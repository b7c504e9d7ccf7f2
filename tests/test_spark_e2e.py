"""End-to-end Spark tests: build_index + IndexReader vs the oracle.

Covers FIXTURES.md §5 merge property (1-segment build == P-segment
build), rank identity on the reference query set, counts, and
checkpoint/resume."""

import json
import os
import shutil

import numpy as np
import pytest

from conftest import QUERY_SET


@pytest.fixture(scope="module")
def spark_df(spark, transcripts_small):
    return spark.createDataFrame(
        transcripts_small.drop(columns=["expected_doc_id"]))


@pytest.fixture(scope="module")
def index_multi(spark, spark_df, tmp_path_factory):
    from cuely_spark.indexer import build_index

    out = str(tmp_path_factory.mktemp("idx_multi"))
    build_index(spark, spark_df, out, rows_per_segment=1500, num_jobs=2)
    return out


def test_doc_ids_are_dense_rank(spark, index_multi, transcripts_small):
    from cuely_spark.queryengine import IndexReader

    turns = IndexReader(spark, index_multi).turns_df
    got = (turns.select("doc_id", "conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").toPandas())
    assert got["doc_id"].tolist() == list(range(len(transcripts_small)))
    exp = transcripts_small[["conv_id", "turn_idx"]].reset_index(drop=True)
    assert got["conv_id"].tolist() == exp["conv_id"].tolist()
    assert got["turn_idx"].tolist() == exp["turn_idx"].tolist()


def test_stats_match_oracle(index_multi, oracle_small):
    with open(os.path.join(index_multi, "stats.json")) as f:
        stats = json.load(f)
    assert stats["num_docs"] == oracle_small.num_docs
    assert stats["total_tokens"] == oracle_small.total_tokens
    assert stats["num_segments"] > 1
    np.testing.assert_allclose(stats["avg_fieldnorm"],
                               oracle_small.avg_fieldnorm)


@pytest.mark.parametrize("q", QUERY_SET)
def test_rank_identity_multi_segment(spark, index_multi, oracle_small, q):
    from cuely_spark.queryengine import IndexReader

    r = IndexReader(spark, index_multi)
    docs, scores = r.search_collect(q, k=20)
    odocs, oscores = oracle_small.search(q, k=20)
    assert docs.tolist() == odocs.tolist(), f"rank mismatch for {q!r}"
    np.testing.assert_allclose(scores, oscores.astype(np.float64), rtol=1e-6)
    assert r.count(q) == oracle_small.count(q)


def test_empty_and_absent(spark, index_multi):
    from cuely_spark.queryengine import IndexReader

    r = IndexReader(spark, index_multi)
    docs, _ = r.search_collect("zzzabsentterm", k=10)
    assert docs.size == 0
    with pytest.raises(ValueError):
        r.search_collect("   ")


def test_with_meta(spark, index_multi, transcripts_small):
    from cuely_spark.queryengine import IndexReader

    r = IndexReader(spark, index_multi)
    rows = r.search("test website", k=5, with_meta=True).collect()
    assert len(rows) == 5
    exp = transcripts_small.reset_index(drop=True)
    for row in rows:
        t = exp.iloc[row["doc_id"]]
        assert row["conv_id"] == t["conv_id"]
        assert row["turn_idx"] == t["turn_idx"]


def test_merge_property_single_vs_multi(spark, spark_df, index_multi,
                                        oracle_small, tmp_path_factory):
    """Index built as 1 segment == index built as P segments (same
    query results, same term stats)."""
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    out1 = str(tmp_path_factory.mktemp("idx_single"))
    build_index(spark, spark_df, out1, rows_per_segment=10**9)
    r1 = IndexReader(spark, out1)
    rM = IndexReader(spark, index_multi)
    assert r1.stats["num_segments"] == 1
    for q in ["example website", '"test website"', "the"]:
        d1, s1 = r1.search_collect(q, k=20)
        dM, sM = rM.search_collect(q, k=20)
        assert d1.tolist() == dM.tolist()
        np.testing.assert_array_equal(s1, sM)
    t1 = (spark.read.parquet(os.path.join(out1, "term_stats"))
          .orderBy("term").toPandas())
    tM = (spark.read.parquet(os.path.join(index_multi, "term_stats"))
          .orderBy("term").toPandas())
    assert t1.equals(tM)


def test_build_leaves_caller_session_conf(spark, transcripts_small,
                                          tmp_path, monkeypatch):
    """The stage-B split settings live on a child session: while a
    build writes its postings, the caller's session still reads its own
    maxPartitionBytes and openCostInBytes, and so it does afterwards."""
    from cuely_spark.indexer import build
    from cuely_spark.queryengine import IndexReader

    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    want = {k: spark.conf.get(k) for k in keys}
    seen = []
    rg_bytes = build.posting_rg_bytes

    def probe():  # called as each job's posting write is set up
        seen.append({k: spark.conf.get(k) for k in keys})
        return rg_bytes()

    monkeypatch.setattr(build, "posting_rg_bytes", probe)
    pdf = transcripts_small.drop(columns=["expected_doc_id"]).head(600)
    out = str(tmp_path / "idx")
    build.build_index(spark, spark.createDataFrame(pdf), out,
                      rows_per_segment=200, num_jobs=2)
    assert seen == [want, want]
    assert {k: spark.conf.get(k) for k in keys} == want
    r = IndexReader(spark, out)
    assert r.stats["num_docs"] == 600 and len(r._snapshot()[1]) == 3


def test_resume_skips_done_jobs_and_rebuilds_deleted(
        spark, spark_df, oracle_small, tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    out = str(tmp_path_factory.mktemp("idx_resume"))
    build_index(spark, spark_df, out, rows_per_segment=1500, num_jobs=4)
    # capture term stats, delete one job's segment output + manifest
    before = (spark.read.parquet(os.path.join(out, "term_stats"))
              .orderBy("term").toPandas())
    with open(os.path.join(out, "manifest", "job=1.json")) as f:
        job1 = json.load(f)
    for seg in job1["segments"]:
        for kind in "ptdg":
            shutil.rmtree(os.path.join(out, "index", f"kind={kind}",
                                       f"segment_id={seg}"))
    os.remove(os.path.join(out, "manifest", "job=1.json"))
    build_index(spark, spark_df, out, rows_per_segment=1500, num_jobs=4,
                resume=True)
    after = (spark.read.parquet(os.path.join(out, "term_stats"))
             .orderBy("term").toPandas())
    assert before.equals(after), "resume rebuild not content-identical"
    r = IndexReader(spark, out)
    docs, _ = r.search_collect("example website", k=10)
    odocs, _ = oracle_small.search("example website", k=10)
    assert docs.tolist() == odocs.tolist()


def test_approx_count(spark, index_multi, oracle_small):
    from cuely_spark.queryengine import IndexReader

    r = IndexReader(spark, index_multi)
    est = r.approx_count("example website")
    exact = oracle_small.count("example website")
    assert est > 0
    # independence estimate should be within an order of magnitude here
    assert exact / 50 <= est <= exact * 50


def test_index_root_as_file_uri(spark, transcripts_small, tmp_path_factory):
    """Build, search and merge with the index root given as a file://
    URI — all metadata IO must go through the pyarrow FileSystem
    abstraction (object-store portability), no raw os.listdir/open."""
    import numpy as np

    from cuely_spark.indexer import build_index
    from cuely_spark.indexer.merge import merge_segments
    from cuely_spark.queryengine import IndexReader

    df = spark.createDataFrame(
        transcripts_small.drop(columns=["expected_doc_id"]).head(600))
    base = tmp_path_factory.mktemp("uri_idx")
    root = "file://" + str(base / "idx")
    build_index(spark, df, root, rows_per_segment=200)
    r = IndexReader(spark, root)
    d1, s1 = r.search_collect("the test", k=10, dtype=np.float64)
    assert d1.size > 0

    # the driver-local reads take the same cached-footer reader as a
    # plain path: no dataset-scan or Spark detour for a URI root
    from cuely_spark.queryengine.executor import _PrunedTable

    plain = IndexReader(spark, str(base / "idx"))
    dl, sl = r.search_local("the test", k=10, dtype=np.float64)
    assert isinstance(r._local_pruned, _PrunedTable)
    dd, sd = r.search_collect("the test", k=10, dtype=np.float64,
                              local=False)
    assert dl.tolist() == dd.tolist()
    np.testing.assert_array_equal(sl, sd)
    assert r.prefix_terms("te") == plain.prefix_terms("te")
    assert r.prefix_terms("te")
    for doc in (0, int(d1[0])):
        text = plain._fetch_doc_text(doc, "text")
        assert text is not None
        assert r._fetch_doc_text(doc, "text") == text

    merged = "file://" + str(base / "merged")
    merge_segments(spark, root, merged, target_segments=1,
                   hot_df_threshold=50)
    rm = IndexReader(spark, merged)
    d2, s2 = rm.search_collect("the test", k=10, dtype=np.float64)
    assert d1.tolist() == d2.tolist()
    np.testing.assert_array_equal(s1, s2)
