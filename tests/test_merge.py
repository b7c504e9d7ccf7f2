"""Segment-merge tests: merged index answers every query identically to
the source index (both cold re-block and hot salted paths exercised)."""

import json
import os

import numpy as np
import pytest

from conftest import QUERY_SET


def test_merged_stats(merged, oracle_small):
    src, dst = merged
    with open(os.path.join(dst, "stats.json")) as f:
        stats = json.load(f)
    assert stats["num_segments"] == 2
    assert stats["num_docs"] == oracle_small.num_docs
    assert stats["segment_map"]


@pytest.mark.parametrize("q", QUERY_SET)
def test_merged_rank_identity(spark, merged, oracle_small, q):
    from cuely_spark.queryengine import IndexReader

    _, dst = merged
    r = IndexReader(spark, dst)
    docs, scores = r.search_collect(q, k=20)
    odocs, oscores = oracle_small.search(q, k=20)
    assert docs.tolist() == odocs.tolist(), f"merged rank mismatch: {q!r}"
    np.testing.assert_allclose(scores, oscores.astype(np.float64),
                               rtol=1e-6)
    assert r.count(q) == oracle_small.count(q)


def test_merged_with_meta_uses_source_turns(spark, merged,
                                            transcripts_small):
    from cuely_spark.queryengine import IndexReader

    _, dst = merged
    r = IndexReader(spark, dst)
    rows = r.search("example website", k=3, with_meta=True).collect()
    assert len(rows) == 3
    exp = transcripts_small.reset_index(drop=True)
    for row in rows:
        assert row["conv_id"] == exp.iloc[row["doc_id"]]["conv_id"]


def test_cold_blocks_fully_packed(spark, merged):
    """Cold path must emit only full 128-doc blocks (except the last
    block of each term)."""
    from pyspark.sql import functions as F

    _, dst = merged
    p = (spark.read.option("basePath", os.path.join(dst, "index"))
         .parquet(os.path.join(dst, "index", "kind=p")))
    w_max = (p.groupBy("segment_id", "term")
             .agg(F.max("block_id").alias("maxb")))
    joined = p.join(w_max, ["segment_id", "term"])
    bad = joined.filter((F.col("block_id") < F.col("maxb"))
                        & (F.col("ndocs") < 128))
    # hot (salted) terms may keep boundary partials; cold terms may not.
    # hot = per-merge-group df > 200, read from the merged kind=t rows.
    tseg = (spark.read.option("basePath", os.path.join(dst, "index"))
            .parquet(os.path.join(dst, "index", "kind=t"))
            .select("segment_id", "term",
                    F.col("df").alias("seg_df")))
    bad_cold = (bad.join(tseg, ["segment_id", "term"])
                .filter(F.col("seg_df") <= 200))
    assert bad_cold.count() == 0
    # and the salted path must actually have been exercised
    assert (tseg.filter(F.col("seg_df") > 200).count()) > 0


def test_merge_preserves_shadow_fields(spark, tmp_path):
    """Merging an ngram+stem index keeps compound/stemmed matching (and
    the stats flags that auto-enable it)."""
    import numpy as np

    from cuely_spark.indexer import build_index
    from cuely_spark.indexer.merge import merge_segments
    from cuely_spark.queryengine import IndexReader

    rows = [(i, t) for i, t in enumerate(
        ["i love new york", "newyork", "running fast", "nothing here",
         "new things", "york minster"] * 3)]
    df = spark.createDataFrame(
        [(i, t) for i, (j, t) in enumerate(rows)],
        "doc_id long, text string")
    src = str(tmp_path / "src")
    build_index(spark, df, src, doc_id_col="doc_id", rows_per_segment=6,
                ngram_max=3, stem=True)
    dst = str(tmp_path / "merged")
    merge_segments(spark, src, dst, target_segments=1, hot_df_threshold=2)
    r0, r1 = IndexReader(spark, src), IndexReader(spark, dst)
    assert r1.stats["ngram_max"] == 3 and r1.stats["stemmed"] is True
    for q in ["new york", "runs"]:
        d0, s0 = r0.search_collect(q, k=20, dtype=np.float64)
        d1, s1 = r1.search_collect(q, k=20, dtype=np.float64)
        assert d0.tolist() == d1.tolist(), q
        np.testing.assert_array_equal(s0, s1)


def test_single_pass_parity_on_merged(spark, merged, transcripts_small):
    """The local path's one kernel pass on a merged index, whose row
    store stays at the SOURCE segment dirs: range/exists queries agree
    on (doc_id, score) and Count across search_local, search_with_count
    (both paths) and search; explain() gives search_local's score; an
    optic end-anchor plan (doclens of every segment) matches
    search(optic=); facets and diversity read the source row store as
    Spark does."""
    from test_local_path import (K, _assert_same, _fuzz_queries, _hits,
                                 check_optic_end_anchor_plan,
                                 check_row_store_parity)

    from cuely_spark.queryengine import IndexReader

    r = IndexReader(spark, merged[1])
    assert r._segment_map and len(set(r._segment_map.values())) == 2
    fuzz = [q for q, kw in _fuzz_queries(
        transcripts_small["text"].tolist(), 80, seed=20261019)
        if not kw and ("ts:" in q or "tool:*" in q)][:10]
    queries = ["the ts:2024-01-02..2024-01-05", "test -tool:*",
               "website tool:* -example", "* ts:>=2024-01-09 -the"] + fuzz
    explained = 0
    for q in queries:
        want = _hits(*r.search_local(q, k=K))
        rows = r.search(q, k=K).collect()
        _assert_same(_hits([x["doc_id"] for x in rows],
                           [x["score"] for x in rows]), want, "search " + q)
        counts = []
        for local in (True, False):
            d, s, c = r.search_with_count(q, k=K, local=local)
            _assert_same(_hits(d, s), want,
                         f"search_with_count(local={local}) {q}")
            assert c.exact, q
            counts.append(c.value)
        assert counts[0] == counts[1], q
        for doc, score in list(zip(*want))[:2]:
            assert r.explain(q, doc).value == float(score), (q, doc)
            explained += 1
    assert explained >= 10
    check_optic_end_anchor_plan(r, transcripts_small["text"])
    check_row_store_parity(r, "the test",
                           "ts:2024-01-02..2024-01-08 tool:*", "conv_id")


def test_writers_keep_session_overwrite_mode(spark, transcripts_small,
                                             tmp_path):
    """build_index, merge_segments and live batches overwrite their
    partitions dynamically per write, so every job's, kind's and
    batch's segments survive a caller session whose
    partitionOverwriteMode is static, and that conf is unchanged after
    them."""
    from cuely_spark.indexer import build_index
    from cuely_spark.indexer.merge import merge_segments
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.streaming import LiveIndexWriter
    from cuely_spark.tokenizer import tokenize

    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        pdf = transcripts_small.drop(columns=["expected_doc_id"]).head(40)
        df = spark.createDataFrame(pdf)
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        build_index(spark, df, src, rows_per_segment=10, num_jobs=2)
        merge_segments(spark, src, dst, target_segments=2,
                       hot_df_threshold=5)
        w = LiveIndexWriter(spark, str(tmp_path / "live"))
        w.process_batch(spark.createDataFrame(pdf.iloc[:20]), 0)
        w.process_batch(spark.createDataFrame(pdf.iloc[20:]), 1)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, old)
    for root in (src, dst, w.paths.root):
        r = IndexReader(spark, root)
        assert r.num_docs == 40, root
        assert r.count("*") == 40, root
        assert r.count("the") == sum("the" in tokenize(t)
                                     for t in pdf["text"]), root
