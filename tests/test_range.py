"""Range-filter queries (`n_chars:100..200`, `ts:>=2025-01-01`) — the
fast-field RangeQuery analog (crates/tantivy/src/query/range_query/):
unscored Must clauses evaluated as partition-pruned columnar reads of
the segment's row store."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from cuely_spark.queryengine.parser import parse_query


def test_parser_range_forms():
    pq = parse_query("merge n_chars:100..200")
    c = pq.clauses[1]
    assert c.kind == "range" and c.tokens == ("n_chars",)
    assert (c.lo, c.hi, c.lo_inc, c.hi_inc) == ("100", "200", True, True)
    c = parse_query("a n_chars:>100").clauses[1]
    assert (c.lo, c.hi, c.lo_inc) == ("100", None, False)
    c = parse_query("a n_chars:<=100").clauses[1]
    assert (c.lo, c.hi, c.hi_inc) == (None, "100", True)
    c = parse_query("a ts:>=2025-01-01").clauses[1]
    assert c.tokens == ("ts",) and c.lo == "2025-01-01"
    # duplicate ranges dedup; unknown field stays a plain token;
    # malformed bounds and range-only queries raise
    pq = parse_query("a n_chars:>5 n_chars:>5")
    assert sum(c.kind == "range" for c in pq.clauses) == 1
    assert all(c.kind != "range" for c in
               parse_query("a foo:1..2").clauses)
    with pytest.raises(ValueError):
        parse_query("a n_chars:1..x")
    with pytest.raises(ValueError):
        parse_query("n_chars:1..2")


@pytest.fixture(scope="module")
def docs_pdf():
    rng = np.random.default_rng(7)
    vocab = ["merge", "table", "window", "scan", "sort", "key", "dup"]
    rows = []
    for i in range(400):
        n = int(rng.integers(3, 12))
        text = " ".join(rng.choice(vocab, n))
        rows.append((i, text, len(text)))
    return pd.DataFrame(rows, columns=["doc_id", "text", "n_chars"])


@pytest.fixture(scope="module")
def rreader(spark, docs_pdf, tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    out = str(tmp_path_factory.mktemp("idx_range"))
    build_index(spark, spark.createDataFrame(docs_pdf), out,
                doc_id_col="doc_id", rows_per_segment=100)
    return IndexReader(spark, out)


def test_range_matches_duckdb_oracle(rreader, docs_pdf):
    from cuely_spark.oracle_sql import bm25_search_sql, count_sql

    con = duckdb.connect()
    con.register("documents", docs_pdf)
    for q in ("merge n_chars:30..45", "merge table n_chars:>40",
              "merge n_chars:<=35", '"merge table" n_chars:>20',
              "merge -window n_chars:25..60"):
        got = rreader.search(q, k=rreader.num_docs,
                             dtype=np.float64).collect()
        got = sorted((r["doc_id"], round(r["score"], 4)) for r in got)
        want = con.execute(bm25_search_sql(q, k=None)).fetchall()
        want = sorted((d, s) for d, s in want)
        assert [d for d, _ in got] == [d for d, _ in want], q
        np.testing.assert_allclose([s for _, s in got],
                                   [s for _, s in want], atol=2e-4)
        n = con.execute(count_sql(q)).fetchone()[0]
        assert rreader.count(q) == n == len(got), q


def test_range_is_unscored_and_conjunctive(rreader, docs_pdf):
    """Scores of surviving docs equal the unfiltered query's scores;
    membership = unfiltered hits ∩ range rows."""
    base = {r["doc_id"]: r["score"] for r in
            rreader.search("merge", k=rreader.num_docs,
                           dtype=np.float64).collect()}
    got = {r["doc_id"]: r["score"] for r in
           rreader.search("merge n_chars:30..45", k=rreader.num_docs,
                          dtype=np.float64).collect()}
    in_range = set(docs_pdf[(docs_pdf.n_chars >= 30)
                            & (docs_pdf.n_chars <= 45)].doc_id)
    assert set(got) == set(base) & in_range and got
    for d, s in got.items():
        assert s == base[d]


def test_range_local_and_batch_parity(rreader):
    q = "merge table n_chars:25..50"
    rows = rreader.search(q, k=25, dtype=np.float64).collect()
    dl, sl = rreader.search_local(q, k=25, dtype=np.float64)
    assert dl.tolist() == [r["doc_id"] for r in rows]
    np.testing.assert_allclose(sl, [r["score"] for r in rows],
                               rtol=1e-9)
    res = rreader.search_many({"rq": q, "plain": "merge table"},
                              k=25, dtype=np.float64).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query"], []).append((r["rank"], r["doc_id"]))
    assert sorted(by_q["rq"]) == [(i + 1, r["doc_id"])
                                  for i, r in enumerate(rows)]


def test_range_on_timestamp_column(spark, tmp_path_factory):
    from cuely_spark.datagen import generate_transcripts
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    pdf = generate_transcripts(800, seed=11)
    out = str(tmp_path_factory.mktemp("idx_ts"))
    build_index(spark, spark.createDataFrame(pdf), out,
                rows_per_segment=300)
    r = IndexReader(spark, out)
    # pick a cutoff splitting the data, query a common token
    cut = pdf["ts"].quantile(0.5).isoformat()
    tok = pdf["text"].str.split().explode().mode()[0]
    got = r.search(f"{tok} ts:>={cut}", k=r.num_docs,
                   dtype=np.float64).collect()
    assert got
    # doc ids are dense ranks of (conv_id, turn_idx); rebuild the map
    key = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    key["doc_id"] = np.arange(len(key))
    want = set(key[(key.ts >= pd.Timestamp(cut))
                   & key.text.str.split().apply(lambda t: tok in t)]
               .doc_id)
    assert {r["doc_id"] for r in got} == want
    # match-all on this offsets-mode (no doc_id column) row store, with
    # filters that leave no row / only the first segment's rows: the
    # local row-store scan maps __ord to doc ids like the Spark path
    first_ts = pdf.sort_values(["conv_id", "turn_idx"])["ts"].iloc[0]
    for q in ("* ts:>2100-01-01", f"* ts:<={first_ts.isoformat()}"):
        dl, sl = r.search_collect(q, k=r.num_docs, local=True)
        dd, sd = r.search_collect(q, k=r.num_docs, local=False)
        assert dl.tolist() == dd.tolist(), q
        np.testing.assert_array_equal(sl, sd)


def test_repeated_range_query_reads_decoded_cache(rreader):
    """Range lookups read the row store through the reader's table:
    the first query leaves its row-store columns in the decoded-column
    cache under that table, and a repeat decodes nothing."""
    from cuely_spark.queryengine import executor

    q = "merge table n_chars:25..50"
    first = rreader.search_local(q, k=25)
    token = rreader._turns_table._token
    assert any(k[0] == token for k in list(executor._decoded._lru))
    misses = executor._decoded.stats()["misses"]
    again = rreader.search_local(q, k=25)
    assert executor._decoded.stats()["misses"] == misses
    assert again[0].tolist() == first[0].tolist()
    np.testing.assert_array_equal(again[1], first[1])


def test_range_errors(rreader):
    with pytest.raises(ValueError):
        rreader.search("merge ts:>=2025-01-01", k=5).collect()  # no col
    with pytest.raises(ValueError):
        rreader.search("merge n_chars:1..9", k=5, occur="should")
    with pytest.raises(ValueError):
        rreader.approx_count("merge n_chars:>5")
    with pytest.raises(ValueError):
        rreader.approx_count_hybrid("merge n_chars:>5")


def test_range_on_merged_index(spark, docs_pdf, tmp_path_factory):
    """Merged indexes don't copy the row store: the range lookup must
    read the SOURCE segment dirs mapped to each merged segment."""
    from cuely_spark.indexer import build_index
    from cuely_spark.indexer.merge import merge_segments
    from cuely_spark.queryengine import IndexReader

    root = tmp_path_factory.mktemp("idx_range_m")
    src, dst = str(root / "src"), str(root / "dst")
    build_index(spark, spark.createDataFrame(docs_pdf), src,
                doc_id_col="doc_id", rows_per_segment=50)
    merge_segments(spark, src, dst, target_segments=1,
                   hot_df_threshold=50)
    r0 = IndexReader(spark, src)
    r1 = IndexReader(spark, dst)
    q = "merge table n_chars:25..50"
    a = sorted((r["doc_id"], round(r["score"], 4)) for r in
               r0.search(q, k=r0.num_docs, dtype=np.float64).collect())
    b = sorted((r["doc_id"], round(r["score"], 4)) for r in
               r1.search(q, k=r1.num_docs, dtype=np.float64).collect())
    assert a == b and a
    assert r0.count(q) == r1.count(q) == len(a)


def test_range_fuzz_vs_brute_force(rreader, docs_pdf):
    """Randomized bounds: membership always equals (unfiltered hits ∩
    pandas range rows), scores always unchanged — across open/closed/
    empty/degenerate ranges."""
    rng = np.random.default_rng(23)
    base = {r["doc_id"]: r["score"] for r in
            rreader.search("merge", k=rreader.num_docs,
                           dtype=np.float64).collect()}
    for _ in range(8):
        lo, hi = sorted(int(x) for x in rng.integers(10, 80, size=2))
        form = rng.choice(["both", "lo", "hi", "excl"])
        if form == "both":
            q, mask = (f"merge n_chars:{lo}..{hi}",
                       (docs_pdf.n_chars >= lo) & (docs_pdf.n_chars <= hi))
        elif form == "lo":
            q, mask = f"merge n_chars:>={lo}", docs_pdf.n_chars >= lo
        elif form == "hi":
            q, mask = f"merge n_chars:<{hi}", docs_pdf.n_chars < hi
        else:
            q, mask = f"merge n_chars:>{lo}", docs_pdf.n_chars > lo
        got = {r["doc_id"]: r["score"] for r in
               rreader.search(q, k=rreader.num_docs,
                              dtype=np.float64).collect()}
        want_ids = set(base) & set(docs_pdf[mask].doc_id)
        assert set(got) == want_ids, q
        for d in got:
            assert got[d] == base[d], q
        assert rreader.count(q) == len(want_ids), q
