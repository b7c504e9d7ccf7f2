"""The benchmark tracer (perfbench/tracing.py) times the engine's layers
by swapping wrappers onto engine functions it looks up by name. A
renamed or deleted function would only break traced benchmark runs;
this test makes it fail here instead, and checks that uninstall puts
every original back. No Spark session is needed."""

import numpy as np


def test_tracer_hooks_exist_and_restore():
    from pyspark.sql import DataFrame

    from cuely_spark.codec import encode_docs, encode_positions, encode_tfs
    from cuely_spark.queryengine import executor, kernel
    from perfbench.tracing import Tracer, _Traced

    tracer = Tracer()
    # install looks each hooked attribute up with getattr: a missing
    # one raises AttributeError here
    tracer.install(DataFrame)
    hooked = list(tracer._saved)
    try:
        assert hooked
        for owner, attr, orig in hooked:
            wrapper = vars(owner)[attr]
            assert isinstance(wrapper, _Traced), (owner, attr)
            assert wrapper.orig is orig
        names = {(owner, attr) for owner, attr, _ in hooked}
        for key in [(executor, "_concat_arrow_postings"),
                    (kernel.TermPostings, "decode_blocks"),
                    (kernel.TermPostings, "positions_flat"),
                    (kernel, "phrase_tf"),
                    (executor.IndexReader, "term_dfs"),
                    (executor.IndexReader, "_local_postings")]:
            assert key in names, key
        # the kernel reaches the wrapped methods through the class, so
        # a phrase check records positions_flat and its nested decode
        docs = np.array([3, 9, 14], dtype=np.int64)
        tfs = np.array([2, 1, 1], dtype=np.int64)
        tp = kernel.TermPostings(
            [3], [14], [3], [encode_docs(docs)], [encode_tfs(tfs)],
            [bytes(3)], positions=[encode_positions(
                np.array([0, 4, 2, 7]), tfs)])
        flat, counts = tp.positions_flat(np.array([3, 14]))
        assert flat.tolist() == [0, 4, 7] and counts.tolist() == [2, 1]
        spans = [sp["name"] for sp in tracer.spans]
        assert "kernel.positions_flat" in spans
        assert "kernel.decode_blocks" in spans
    finally:
        tracer.uninstall()
    for owner, attr, orig in hooked:
        assert getattr(owner, attr) is orig, (owner, attr)
        assert not isinstance(vars(owner).get(attr), _Traced)
