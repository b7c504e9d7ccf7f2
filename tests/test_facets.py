"""Facet / terms aggregation and the other aggregation surfaces over
matching docs.

Reference: the tantivy aggregation module's bucket terms aggregation
(crates/tantivy/src/aggregation/bucket/term_agg.rs) — per-segment
value counts over a fast-field column for the docs the scorer visits,
merged across segments, top-k buckets by (count desc, value asc).
Here every aggregation is written once, as a Spark aggregate over
IndexReader._matched_rows: the matched docs' row-store columns, read
from the row store for match-all queries and, for posting-backed ones,
from kernel.matching_docs per segment plus the partition-pruned
executor-local row-store read (the fast-field reader analog). Spark
runs the partial aggregation in the scan stage, so only bucket
partials shuffle.
"""
import duckdb
import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def facet_pdf():
    rng = np.random.default_rng(31)
    vocab = ["merge", "table", "window", "scan", "sort", "key", "dup"]
    rows = []
    for i in range(500):
        rows.append((i, " ".join(rng.choice(vocab, int(rng.integers(3, 12)))),
                     ["en", "de", "fr"][i % 3],
                     [None, "src1", "src2"][i % 3],
                     int(rng.integers(10, 400)),
                     pd.Timestamp("2025-01-01")
                     + pd.Timedelta(hours=int(rng.integers(0, 2000)))))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang",
                                       "source", "n_chars", "ts"])


@pytest.fixture(scope="module")
def facet_reader(spark, facet_pdf, tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    out = str(tmp_path_factory.mktemp("idx_facets"))
    build_index(spark, spark.createDataFrame(facet_pdf), out,
                doc_id_col="doc_id", rows_per_segment=120,
                attr_cols=("lang", "source"), fuzzy_sidecar=False)
    return IndexReader(spark, out)


@pytest.fixture(scope="module")
def facet_con(facet_pdf):
    c = duckdb.connect()
    c.register("documents", facet_pdf)
    return c


FACET_CASES = [
    ("merge table", ["lang", "source"]),
    ('"merge table" -window', "lang"),
    ("merge n_chars:100..300", ["lang"]),
    ("merge lang:de", ["source"]),
    ("* n_chars:>200", ["lang", "source"]),   # match-all row-store path
    ("* -merge", "lang"),
]


def test_facets_match_duckdb_oracle(facet_reader, facet_con):
    from cuely_spark.oracle_sql import facet_sql

    for q, by in FACET_CASES:
        got = facet_reader.facet_counts(q, by, k=10).toPandas()
        want = facet_con.execute(facet_sql(q, by, k=10)).df()
        assert (list(map(tuple, got[["col", "value", "count"]].values))
                == list(map(tuple, want.values))), (q, by)


def test_facets_consistent_with_count(facet_reader, facet_pdf):
    """Sum over lang buckets == count(q): lang is never NULL here."""
    q = "merge table"
    got = facet_reader.facet_counts(q, "lang", k=50).toPandas()
    assert int(got["count"].sum()) == facet_reader.count(q)
    # NULL attributes are dropped (terms agg ignores missing)
    src = facet_reader.facet_counts(q, "source", k=50).toPandas()
    assert int(src["count"].sum()) < facet_reader.count(q)
    assert not src["value"].isna().any()


def test_facets_topk_and_order(facet_reader):
    full = facet_reader.facet_counts("merge", "lang", k=50).toPandas()
    top1 = facet_reader.facet_counts("merge", "lang", k=1).toPandas()
    assert len(top1) == 1
    assert tuple(top1.iloc[0]) == tuple(full.iloc[0])
    # count desc, value asc within a column
    c = full["count"].tolist()
    assert c == sorted(c, reverse=True)


def test_facets_edge_cases(facet_reader):
    # absent term -> empty frame with the facet schema
    out = facet_reader.facet_counts("zzzqx", "lang", k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "col", "value", "count"]
    # unknown column -> loud error
    with pytest.raises(ValueError, match="nosuch"):
        facet_reader.facet_counts("merge", "nosuch", k=5)
    with pytest.raises(ValueError, match=">= 1"):
        facet_reader.facet_counts("merge", [], k=5)


def test_facets_on_merged_index(spark, facet_pdf, facet_reader,
                                tmp_path_factory):
    """Merged indexes route the row-store read through segment_map's
    source dirs — bucket counts must be identical."""
    from cuely_spark.indexer import merge_segments
    from cuely_spark.queryengine import IndexReader

    dst = str(tmp_path_factory.mktemp("idx_facets_merged"))
    merge_segments(spark, facet_reader.path, dst, target_segments=2)
    rm = IndexReader(spark, dst)
    a = facet_reader.facet_counts("merge table", ["lang", "source"],
                                  k=10).toPandas()
    b = rm.facet_counts("merge table", ["lang", "source"],
                        k=10).toPandas()
    assert a.values.tolist() == b.values.tolist()


def test_row_store_parity_doc_id_mode(facet_reader, facet_pdf):
    """A doc_id-keyed row store reads alike on every route (the
    offsets-mode and merged row stores: test_local_path, test_merge)."""
    from test_local_path import (check_optic_end_anchor_plan,
                                 check_row_store_parity)

    for filters in ("n_chars:50..300 source:*",
                    "ts:>=2025-01-20 -source:*"):
        check_row_store_parity(facet_reader, "merge table", filters,
                               "lang")
    check_optic_end_anchor_plan(facet_reader, facet_pdf["text"], q="merge")


# ------------------------------------------- metric stats + histogram
def test_agg_stats_matches_duckdb_oracle(facet_reader, facet_con):
    from cuely_spark.oracle_sql import stats_agg_sql

    for q in ["merge table", '"merge table" -window',
              "merge n_chars:100..300", "* n_chars:>200"]:
        got = facet_reader.agg_stats(q, ["n_chars"]).toPandas()
        want = facet_con.execute(stats_agg_sql(q, ["n_chars"])).df()
        assert sorted(map(tuple, got.values)) == sorted(
            map(tuple, want.values)), q


def test_agg_stats_multi_col_order_and_consistency(facet_reader,
                                                   facet_pdf):
    got = facet_reader.agg_stats("merge", ["n_chars", "doc_id"]
                                 ).toPandas()
    # rows come back in `by` order
    assert got["col"].tolist() == ["n_chars", "doc_id"]
    row = got.iloc[0]
    assert int(row["count"]) == facet_reader.count("merge")
    matched = facet_pdf[facet_pdf.text.str.split().map(
        lambda t: "merge" in t)]
    assert row["sum"] == float(matched.n_chars.sum())
    assert row["min"] == float(matched.n_chars.min())
    assert row["max"] == float(matched.n_chars.max())
    assert row["avg"] == pytest.approx(matched.n_chars.mean())
    assert row["variance"] == pytest.approx(
        matched.n_chars.var(ddof=0))
    assert row["stddev"] == pytest.approx(
        matched.n_chars.std(ddof=0))


def test_histogram_matches_duckdb_oracle(facet_reader, facet_con):
    from cuely_spark.oracle_sql import histogram_sql

    for q, iv in [("merge table", 50.0), ("* -merge", 100.0),
                  ("merge lang:de", 25.0)]:
        got = facet_reader.histogram(q, "n_chars", iv).toPandas()
        want = facet_con.execute(
            histogram_sql(q, "n_chars", iv)).df()
        assert got.values.tolist() == want.values.tolist(), (q, iv)
    # buckets ascend; counts sum to the match count (n_chars not null)
    got = facet_reader.histogram("merge", "n_chars", 50.0).toPandas()
    assert got["bucket"].tolist() == sorted(got["bucket"].tolist())
    assert int(got["count"].sum()) == facet_reader.count("merge")


def test_agg_edge_cases(facet_reader):
    assert facet_reader.agg_stats("zzzqx", "n_chars").count() == 0
    assert facet_reader.histogram("zzzqx", "n_chars", 10).count() == 0
    with pytest.raises(ValueError, match="interval"):
        facet_reader.histogram("merge", "n_chars", 0)
    with pytest.raises(ValueError, match="nosuch"):
        facet_reader.agg_stats("merge", "nosuch")


def test_range_buckets_match_duckdb_oracle(facet_reader, facet_con):
    from cuely_spark.oracle_sql import range_agg_sql

    def norm(df):
        return sorted(tuple(float("-inf") if pd.isna(x) else float(x)
                            for x in row) for row in df.values)

    for q, edges in [("merge table", [100.0, 200.0, 300.0]),
                     ("* -merge", [50.0]),
                     ("merge lang:de", [200.0, 250.0])]:
        got = facet_reader.range_buckets(q, "n_chars",
                                         edges).toPandas()
        want = facet_con.execute(
            range_agg_sql(q, "n_chars", edges)).df()
        assert norm(got) == norm(want), (q, edges)
    # zero-count buckets ARE emitted (tantivy range agg semantics)
    got = facet_reader.range_buckets("merge", "n_chars",
                                     [1.0, 2.0, 100000.0]).toPandas()
    assert len(got) == 4 and (got["count"] == 0).any()
    assert int(got["count"].sum()) == facet_reader.count("merge")
    with pytest.raises(ValueError, match="increasing"):
        facet_reader.range_buckets("merge", "n_chars", [2.0, 1.0])


def test_date_histogram_and_ts_ranges(facet_reader, facet_con):
    """Timestamp columns aggregate by epoch seconds (date_histogram;
    Spark's timestamp -> double cast on both membership sources)."""
    from cuely_spark.oracle_sql import histogram_sql, range_agg_sql

    got = facet_reader.histogram("merge table", "ts",
                                 604800.0).toPandas()
    want = facet_con.execute(
        histogram_sql("merge table", "ts", 604800.0, ts=True)).df()
    assert got.values.tolist() == want.values.tolist()
    assert int(got["count"].sum()) == facet_reader.count("merge table")
    e = [pd.Timestamp("2025-01-20").timestamp(),
         pd.Timestamp("2025-02-20").timestamp()]
    got = facet_reader.range_buckets("merge", "ts", e).toPandas()
    want = facet_con.execute(
        range_agg_sql("merge", "ts", e, ts=True)).df()
    assert (sorted(tuple(float("-inf") if pd.isna(x) else float(x)
                         for x in r) for r in got.values)
            == sorted(tuple(float("-inf") if pd.isna(x) else float(x)
                            for x in r) for r in want.values))


def test_facet_stats_matches_duckdb_oracle(facet_reader, facet_con):
    """Sub-aggregation (terms bucket -> nested stats): bucket count
    includes metric-NULL docs, stats exclude them."""
    from cuely_spark.oracle_sql import facet_stats_sql

    for q in ["merge table", "* -merge", "merge n_chars:100..300"]:
        got = facet_reader.facet_stats(q, "lang", "n_chars",
                                       k=10).toPandas()
        want = facet_con.execute(
            facet_stats_sql(q, "lang", "n_chars", k=10)).df()
        assert sorted(map(tuple, got.values)) == sorted(
            map(tuple, want.values)), q
    # top-k keeps the (count desc, value asc) head
    full = facet_reader.facet_stats("merge", "lang", "n_chars",
                                    k=10).toPandas()
    one = facet_reader.facet_stats("merge", "lang", "n_chars",
                                   k=1).toPandas()
    assert len(one) == 1 and tuple(one.iloc[0]) == tuple(full.iloc[0])
    # buckets sum to the facet counts
    fc = facet_reader.facet_counts("merge", "lang", k=10).toPandas()
    assert (dict(zip(full["value"], full["count"]))
            == dict(zip(fc["value"], fc["count"])))


def test_cardinality(facet_reader, facet_pdf):
    """Exact distinct-value metric among matching docs."""
    matched = facet_pdf[facet_pdf.text.str.split().map(
        lambda t: "merge" in t)]
    assert facet_reader.cardinality("merge", "lang") == \
        matched.lang.nunique()
    assert facet_reader.cardinality("merge", "source") == \
        matched.source.nunique()  # NULLs ignored both sides
    assert facet_reader.cardinality("* -merge", "lang") == 3
    assert facet_reader.cardinality("zzzqx", "lang") == 0


# -------------------------------------------- review-fix regressions
@pytest.fixture(scope="module")
def null_reader(spark, tmp_path_factory):
    """Corpus with NULLs in a numeric metric, a boolean attribute, and
    an all-NULL-metric bucket isolated in its own segment."""
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    rows = []
    for i in range(200):
        bucket = ["en", "de"][i % 2]
        # 'xx' docs live at the tail -> their own segment; metric NULL
        if i >= 180:
            bucket, metric = "xx", None
        else:
            metric = None if i % 10 == 0 else int(10 + i % 50)
        rows.append((i, "merge scan", bucket, metric, i % 3 == 0))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang",
                                      "metric", "flag"])
    out = str(tmp_path_factory.mktemp("idx_nulls"))
    build_index(spark, spark.createDataFrame(pdf), out,
                doc_id_col="doc_id", rows_per_segment=60,
                attr_cols=("lang",), fuzzy_sidecar=False)
    r = IndexReader(spark, out)
    r._pdf = pdf
    return r


def test_aggregations_ignore_numeric_nulls(null_reader):
    """pyarrow decodes nullable ints to float64+NaN — the postings
    aggregation path must drop them like the match-all path and the
    oracle do."""
    pdf = null_reader._pdf
    got = null_reader.agg_stats("merge", ["metric"]).toPandas().iloc[0]
    assert int(got["count"]) == int(pdf.metric.notna().sum())
    assert got["sum"] == float(pdf.metric.dropna().sum())
    assert got["max"] == float(pdf.metric.dropna().max())
    hist = null_reader.histogram("merge", "metric", 10.0).toPandas()
    assert int(hist["count"].sum()) == int(pdf.metric.notna().sum())
    assert not hist["bucket"].isna().any()
    rb = null_reader.range_buckets("merge", "metric",
                                   [20.0]).toPandas()
    assert int(rb["count"].sum()) == int(pdf.metric.notna().sum())
    fc = null_reader.facet_counts("merge", "metric", k=100).toPandas()
    assert "nan" not in set(fc["value"])
    assert int(fc["count"].sum()) == int(pdf.metric.notna().sum())
    assert null_reader.cardinality("merge", "metric") == \
        pdf.metric.dropna().nunique()


def test_facet_stats_null_metric_bucket(null_reader):
    """A bucket whose metric is all-NULL must report NULL stats, and
    must not poison other buckets' max via NaN partials."""
    pdf = null_reader._pdf
    got = null_reader.facet_stats("merge", "lang", "metric",
                                  k=10).toPandas()
    row = got[got["value"] == "xx"].iloc[0]
    assert int(row["count"]) == 20
    assert pd.isna(row["sum"]) and pd.isna(row["max"])
    en = got[got["value"] == "en"].iloc[0]
    sub = pdf[(pdf.lang == "en")].metric.dropna()
    assert en["max"] == float(sub.max()) and not pd.isna(en["max"])
    assert en["sum"] == float(sub.sum())


def test_bool_and_id_columns_aggregate_consistently(null_reader):
    """Canonical bucket strings: booleans are 'true'/'false' on BOTH
    the postings and match-all paths; faceting/aggregating by doc_id
    works on both paths too (projection dedupe)."""
    posting = null_reader.facet_counts("merge", "flag",
                                       k=10).toPandas()
    matchall = null_reader.facet_counts("*", "flag", k=10).toPandas()
    assert set(posting["value"]) == {"true", "false"}
    assert posting.values.tolist() == matchall.values.tolist()
    a = null_reader.agg_stats("*", ["metric", "doc_id"]).toPandas()
    assert a["col"].tolist() == ["metric", "doc_id"]
    assert null_reader.facet_counts("*", "doc_id", k=5).count() == 5


def test_aggregation_fuzz_vs_pandas_model(spark, tmp_path_factory):
    """Randomized corpora (NULLs, booleans, nullable ints, multiple
    segments) x conjunctive and match-all queries: every aggregation
    surface must equal a brute pandas model computed over the
    brute-force membership — an oracle independent of the DuckDB SQL
    generators, covering both membership sources of _matched_rows."""
    from cuely_spark.indexer import build_index
    from cuely_spark.oracle import OracleIndex
    from cuely_spark.queryengine import IndexReader

    rng = np.random.default_rng(77)
    vocab = ["merge", "table", "window", "scan", "sort", "key"]
    rows = []
    for i in range(300):
        rows.append((
            i, " ".join(rng.choice(vocab, int(rng.integers(2, 9)))),
            rng.choice(["en", "de", "fr", None], p=[.4, .3, .2, .1]),
            (None if rng.random() < 0.15
             else int(rng.integers(0, 200))),
            bool(rng.random() < 0.5)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang",
                                      "metric", "flag"])
    pdf["metric"] = pdf["metric"].astype("Int64")
    out = str(tmp_path_factory.mktemp("idx_fuzz_agg"))
    build_index(spark, spark.createDataFrame(pdf), out,
                doc_id_col="doc_id", rows_per_segment=70,
                attr_cols=("lang",), fuzzy_sidecar=False)
    r = IndexReader(spark, out)
    oracle = OracleIndex(pdf["doc_id"].to_numpy(),
                         pdf["text"].tolist())

    queries = ["merge", "merge table", "scan -window", "key sort",
               '"merge table"', "table -key",
               # match-all: row-store membership minus the negations
               "* -window", "* -merge -table"]
    for q in queries:
        if q.startswith("* "):
            negated = [t[1:] for t in q.split()[1:]]
            docs = set(pdf.doc_id) - {
                d for t in negated for d in oracle.search(t, k=10**9)[0]}
        else:
            docs, _ = oracle.search(q, k=10**9)
        m = pdf[pdf.doc_id.isin(docs)]
        # terms facets (string + bool + nullable int)
        for col, fmt in [("lang", str), ("flag",
                                         lambda b: str(b).lower()),
                         ("metric", lambda x: str(int(x)))]:
            got = r.facet_counts(q, col, k=1000).toPandas()
            want = m[col].dropna().map(fmt).value_counts()
            assert dict(zip(got["value"], got["count"])) == \
                dict(want), (q, col)
        # extended stats
        st = r.agg_stats(q, ["metric"]).toPandas()
        mm = m.metric.dropna().astype(float)
        if mm.empty:
            assert st.empty or int(st.iloc[0]["count"]) == 0
        else:
            row = st.iloc[0]
            assert int(row["count"]) == len(mm)
            assert row["sum"] == mm.sum()
            assert row["min"] == mm.min() and row["max"] == mm.max()
            np.testing.assert_allclose(row["variance"],
                                       mm.var(ddof=0), rtol=1e-9)
        # histogram
        h = r.histogram(q, "metric", 25.0).toPandas()
        wanth = (np.floor(mm / 25.0) * 25.0).value_counts()
        assert dict(zip(h["bucket"], h["count"])) == dict(wanth), q
        # range buckets (zero buckets included)
        rb = r.range_buckets(q, "metric", [50.0, 120.0]).toPandas()
        cuts = [float((mm < 50).sum()),
                float(((mm >= 50) & (mm < 120)).sum()),
                float((mm >= 120).sum())]
        assert rb["count"].astype(float).tolist() == cuts, q
        # cardinality
        assert r.cardinality(q, "lang") == m.lang.dropna().nunique()
        # sub-aggregation
        fs = r.facet_stats(q, "lang", "metric", k=100).toPandas()
        for _, row in fs.iterrows():
            sub = m[m.lang == row["value"]]
            assert int(row["count"]) == len(sub), (q, row["value"])
            subm = sub.metric.dropna().astype(float)
            if subm.empty:
                assert pd.isna(row["sum"])
            else:
                assert row["sum"] == subm.sum()
                assert row["max"] == subm.max()


def test_percentiles_match_duckdb_oracle(facet_reader, facet_con):
    from cuely_spark.oracle_sql import percentiles_sql

    QS = [0.0, 0.25, 0.5, 0.75, 0.95, 1.0]
    for q in ["merge table", "* -merge", "merge n_chars:100..300"]:
        got = facet_reader.percentiles(q, "n_chars", QS).toPandas()
        want = facet_con.execute(
            percentiles_sql(q, "n_chars", QS)).df()
        assert got.values.tolist() == want.values.tolist(), q
    with pytest.raises(ValueError, match="fractions"):
        facet_reader.percentiles("merge", "n_chars", [1.5])
    assert facet_reader.percentiles("zzzqx", "n_chars",
                                    [0.5]).count() == 0


AGG_SURFACES = {
    "facet_counts": lambda r, q: r.facet_counts(q, ["lang", "source"], k=5),
    "agg_stats": lambda r, q: r.agg_stats(q, ["n_chars", "ts"]),
    "range_buckets": lambda r, q: r.range_buckets(q, "n_chars",
                                                  [100.0, 200.0]),
    "facet_stats": lambda r, q: r.facet_stats(q, "lang", "n_chars", k=5),
    "cardinality": lambda r, q: r.cardinality(q, "source"),
    "percentiles": lambda r, q: r.percentiles(q, "ts", [0.5]),
    "histogram": lambda r, q: r.histogram(q, "ts", 86400.0),
}


@pytest.mark.parametrize("surface", sorted(AGG_SURFACES))
def test_result_schema_same_for_every_membership_source(facet_reader,
                                                         surface):
    """A posting-backed, a match-all and a dead query give the same
    result schema (names and Spark types; cardinality: a Python int)."""
    def shape(out):
        if isinstance(out, int):
            return int
        return [(f.name, f.dataType) for f in out.schema.fields]

    want = shape(AGG_SURFACES[surface](facet_reader, "merge table"))
    for q in ("* -merge", "zzzqx"):
        assert shape(AGG_SURFACES[surface](facet_reader, q)) == want, q
