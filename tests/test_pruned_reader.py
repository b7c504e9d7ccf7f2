"""Round-6 posting layout + driver-local read-path invariants.

Three internals changed for performance and must be invisible to
results: (a) posting files are written with small parquet row groups
(the pruning granule), (b) the driver-local path reads them through a
cached-handle, statistics-pruned parallel reader instead of a generic
dataset scan, (c) the local kernel runs ONCE over the whole index as
one logical segment (disjoint per-segment docID ranges) instead of
looping per segment. Each is pinned here against the reference
behavior it replaced."""

import os

import numpy as np
import pytest

from conftest import QUERY_SET


@pytest.fixture(scope="module")
def multirg_reader(spark, transcripts_small, tmp_path_factory):
    """Index built with a tiny row-group budget so even ~1200-row
    segments produce multi-row-group posting files."""
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    df = spark.createDataFrame(
        transcripts_small.drop(columns=["expected_doc_id"]))
    out = str(tmp_path_factory.mktemp("idx_multirg"))
    old = os.environ.get("CUELY_POSTING_RG_BYTES")
    os.environ["CUELY_POSTING_RG_BYTES"] = "4096"
    try:
        build_index(spark, df, out, rows_per_segment=1200)
    finally:
        if old is None:
            os.environ.pop("CUELY_POSTING_RG_BYTES", None)
        else:
            os.environ["CUELY_POSTING_RG_BYTES"] = old
    return IndexReader(spark, out)


def test_posting_files_have_multiple_row_groups(multirg_reader):
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(multirg_reader.path, "index",
                                   "kind=p", "**", "*.parquet"),
                      recursive=True)
    assert files
    assert max(pq.read_metadata(f).num_row_groups for f in files) > 1


def _row_key(t):
    return sorted(zip(t["segment_id"].to_pylist(),
                      t["term"].to_pylist(),
                      t["block_id"].to_pylist(),
                      [bytes(x) for x in t["docs"].to_pylist()]))


def test_pruned_reader_matches_dataset_scan(multirg_reader):
    import pyarrow.dataset as ds

    from cuely_spark.queryengine.executor import (_POSTING_COLS,
                                                  _PrunedPostingsReader)

    root = multirg_reader._postings_path
    pr = _PrunedPostingsReader(root)
    dset = ds.dataset(root, format="parquet", partitioning="hive")
    for terms in (["test"], ["example", "website"], ["the"],
                  ["nosuchterm"], ["a", "the", "test", "website"]):
        a = pr.read(terms, _POSTING_COLS)
        b = dset.to_table(columns=_POSTING_COLS,
                          filter=ds.field("term").isin(terms))
        assert a.num_rows == b.num_rows, terms
        if a.num_rows:
            assert _row_key(a) == _row_key(b), terms
    # positions column must ride along for phrase queries
    a = pr.read(["test"], _POSTING_COLS + ["positions"])
    assert "positions" in a.column_names


@pytest.mark.parametrize("q", list(QUERY_SET))
def test_local_matches_distributed_on_multirg(multirg_reader, q):
    try:
        dl, sl = multirg_reader.search_local(q, k=20)
    except ValueError:
        pytest.skip("empty query")
    dd, sd = multirg_reader.search_collect(q, k=20, local=False)
    assert dl.tolist() == dd.tolist()
    np.testing.assert_array_equal(sl, sd)
    # and the pruned reader must actually be the engaged path (False
    # would mean the silent dataset fallback swallowed an error)
    assert multirg_reader._local_pruned not in (None, False)


def test_with_count_parity_on_multirg(multirg_reader):
    dl, sl, cl = multirg_reader.search_with_count(
        "example website", k=20, local=True)
    dd, sd, cd = multirg_reader.search_with_count(
        "example website", k=20, local=False)
    assert dl.tolist() == dd.tolist()
    assert int(cl) == int(cd) and cl.exact and cd.exact


def _mk_tbl(first, last, term=None, seg=None):
    import pyarrow as pa

    n = len(first)
    return pa.table({
        "segment_id": pa.array(seg or [0] * n, type=pa.int64()),
        "term": pa.array(term or ["t"] * n),
        "block_id": pa.array(list(range(n)), type=pa.int64()),
        "first_doc": pa.array(first, type=pa.int64()),
        "last_doc": pa.array(last, type=pa.int64()),
        "ndocs": pa.array([2] * n, type=pa.int64()),
        "docs": pa.array([b"\x01\x01"] * n, type=pa.binary()),
        "tfs": pa.array([b"\x00\x00"] * n, type=pa.binary()),
        "fnids": pa.array([b"\x01\x01"] * n, type=pa.binary()),
        "block_max_tf": pa.array([1] * n, type=pa.int64()),
        "block_min_fnid": pa.array([1] * n, type=pa.int64()),
    })


def test_concat_postings_requires_disjoint_ranges():
    from cuely_spark.queryengine.executor import _concat_arrow_postings

    # interleaved block ranges for one term -> None (caller must fall
    # back to the per-segment loop)
    assert _concat_arrow_postings(
        _mk_tbl([0, 5], [10, 20], seg=[0, 1])) is None
    # disjoint ranges -> one TermPostings, blocks in ascending doc
    # order regardless of input row order
    out = _concat_arrow_postings(
        _mk_tbl([50, 0], [60, 10], seg=[1, 0]))
    assert list(out) == ["t"]
    tp = out["t"]
    assert tp.first_doc.tolist() == [0, 50]
    assert tp.last_doc.tolist() == [10, 60]
    # two terms grouped independently
    out = _concat_arrow_postings(
        _mk_tbl([0, 0], [10, 10], term=["a", "b"], seg=[0, 0]))
    assert sorted(out) == ["a", "b"]


@pytest.fixture(scope="module")
def unsorted_reader(spark, multirg_reader, tmp_path_factory):
    """Copy of the multi-row-group index whose first segment's posting
    file is rewritten in DESCENDING term order, several row groups —
    row-group term ranges no longer ascend through the file."""
    import glob
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from cuely_spark.queryengine import IndexReader

    out = str(tmp_path_factory.mktemp("idx_unsorted") / "idx")
    shutil.copytree(multirg_reader.path, out)
    f = sorted(glob.glob(os.path.join(out, "index", "kind=p",
                                      "segment_id=*", "*.parquet")))[0]
    tbl = pq.read_table(f)
    tbl = tbl.take(pc.sort_indices(
        tbl, sort_keys=[("term", "descending"),
                        ("block_id", "ascending")]))
    pq.write_table(tbl, f, row_group_size=max(1, tbl.num_rows // 8))
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # Hadoop's checksum of the old file
    md = pq.read_metadata(f)
    assert md.num_row_groups > 2
    ti = md.schema.to_arrow_schema().get_field_index("term")
    mins = [md.row_group(i).column(ti).statistics.min
            for i in range(md.num_row_groups)]
    assert mins == sorted(mins, reverse=True) and mins[0] > mins[-1]
    return IndexReader(spark, out)


@pytest.mark.parametrize("q", list(QUERY_SET))
def test_unsorted_posting_file(unsorted_reader, oracle_small, q):
    try:
        dl, sl = unsorted_reader.search_local(q, k=20)
    except ValueError:
        pytest.skip("empty query")
    dd, sd = unsorted_reader.search_collect(q, k=20, local=False)
    assert dl.tolist() == dd.tolist()
    np.testing.assert_array_equal(sl, sd)
    od, _ = oracle_small.search(q, k=20)
    assert dl.tolist() == od.tolist()
    assert unsorted_reader._local_pruned not in (None, False)


def test_empty_read_keeps_column_types(multirg_reader):
    import pyarrow.dataset as ds

    from cuely_spark.queryengine.executor import (_POSTING_COLS,
                                                  _PrunedPostingsReader)

    cols = _POSTING_COLS + ["positions"]
    # sorts after every dictionary term: no row group can hold it
    got = _PrunedPostingsReader(multirg_reader._postings_path).read(
        ["\U0010ffff"], cols)
    want = ds.dataset(multirg_reader._postings_path, format="parquet",
                      partitioning="hive").schema
    assert got.num_rows == 0
    assert sorted(got.column_names) == sorted(cols)
    for c in cols:
        if c != "segment_id":
            assert got.schema.field(c).type == want.field(c).type, c


def test_pruned_reader_fallback_logs_once(spark, multirg_reader,
                                          monkeypatch, caplog):
    import logging

    from cuely_spark.queryengine import IndexReader, executor

    monkeypatch.setattr(executor, "_LOCAL_FILE_CAP", 0)
    r = IndexReader(spark, multirg_reader.path)
    with caplog.at_level(logging.WARNING, logger="cuely_spark"):
        got = [r.search_local(q, k=20) for q in ("test", '"test website"')]
    warns = [x for x in caplog.records if x.name == "cuely_spark"]
    assert len(warns) == 1
    assert "posting files > fd cap" in warns[0].getMessage()
    assert r._local_pruned is False
    for q, (d, s) in zip(("test", '"test website"'), got):
        dd, sd = multirg_reader.search_local(q, k=20)
        assert d.tolist() == dd.tolist()
        np.testing.assert_array_equal(s, sd)
