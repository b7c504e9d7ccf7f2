"""Round-5 tantivy query-type completion: BoostQuery (`term^N`),
AllQuery (`*`), ExistsQuery (`field:*` / `-field:*`), TermSetQuery
(`a|b|c`), DisjunctionMaxQuery (occur="dismax"), ConstScoreQuery
(const_score=...).

Reference semantics:
- crates/tantivy/src/query/boost_query.rs — boost multiplies the
  weight, so scores AND block-max bounds scale together.
- crates/tantivy/src/query/all_query.rs — every doc matches, score 1.
- crates/tantivy/src/query/exist_query/ — docs with a value for the
  field (here: non-null, non-empty attribute column).
- crates/tantivy/src/query/set_query.rs — membership by any member,
  const score 1.0 (DoNothingCombiner).
- crates/tantivy/src/query/disjunction_max_query.rs +
  score_combiner.rs:82-115 — max + tie × (sum − max).
- crates/tantivy/src/query/const_score_query.rs — wrapped membership,
  fixed score.
"""
import duckdb
import numpy as np
import pandas as pd
import pytest

from cuely_spark.queryengine.parser import parse_query


# ---------------------------------------------------------------- parser
def test_parser_boost_forms():
    pq = parse_query("merge^2 table")
    assert [(c.tokens, c.boost) for c in pq.positive] == [
        (("merge",), 2.0), (("table",), 1.0)]
    pq = parse_query('"merge table"^1.5')
    assert pq.positive[0].kind == "phrase"
    assert pq.positive[0].boost == 1.5
    # boost composes with slop and phrase-prefix
    pq = parse_query('"merge table"~2^3')
    c = pq.positive[0]
    assert (c.slop, c.boost) == (2, 3.0)
    pq = parse_query('"merge ta"*^2')
    assert pq.positive[0].prefix and pq.positive[0].boost == 2.0
    # prefix / fuzzy terms take boosts too
    pq = parse_query("mer*^2 quer~1^0.5")
    assert pq.positive[0].prefix and pq.positive[0].boost == 2.0
    assert pq.positive[1].fuzzy == 1 and pq.positive[1].boost == 0.5
    # `a^b` is not a boost (suffix must be numeric) — it falls to the
    # bareword path (the Default tokenizer keeps `^` as its own token)
    pq = parse_query("a^b")
    assert [c.tokens for c in pq.positive] == [("a",), ("^",), ("b",)]
    assert all(c.boost == 1.0 for c in pq.positive)


def test_parser_boost_on_unscored_is_discarded():
    # boosting an unscored occurrence is a no-op, as in tantivy where
    # a boosted MustNot contributes no score
    pq = parse_query("merge lang:de^2")
    filt = [c for c in pq.positive if c.kind == "filter"][0]
    assert filt.tokens == ("lang:de",) and filt.boost == 1.0


def test_parser_termset_forms():
    pq = parse_query("merge|window table")
    assert pq.positive[0].kind == "termset"
    assert pq.positive[0].tokens == ("merge", "window")
    assert pq.positive[1].kind == "term"
    # duplicate members collapse; boost attaches
    pq = parse_query("a|b|a^2")
    assert pq.positive[0].tokens == ("a", "b")
    assert pq.positive[0].boost == 2.0
    # a regex containing | stays a regex
    pq = parse_query("/s(can|ort)/")
    assert pq.positive[0].regex
    # an empty member kills the termset reading -> bareword split
    pq = parse_query("a||b")
    assert all(c.kind == "term" for c in pq.positive)
    # termset tokens count as index terms
    assert parse_query("a|b c").all_terms() == ["a", "b", "c"]


def test_parser_all_exists_forms():
    pq = parse_query("* n_chars:>100")
    assert pq.positive[0].kind == "all"
    assert pq.positive[1].kind == "range"
    pq = parse_query("merge tool:* -lang:*")
    kinds = [(c.kind, c.tokens, c.neg) for c in pq.positive]
    assert ("exists", ("tool",), False) in kinds
    assert ("exists", ("lang",), True) in kinds
    # exists/all contribute no index terms
    assert parse_query("merge tool:* *").all_terms() == ["merge"]
    # unknown fields are NOT exists clauses (fall through to the
    # bareword path: plain tokens, no exists/prefix semantics)
    pq = parse_query("foo:*")
    assert pq.positive[0].kind == "term"
    assert not pq.positive[0].prefix
    assert all(c.kind != "exists" for c in pq.positive)
    # a pure range query still needs * (or a posting-backed clause)
    with pytest.raises(ValueError):
        parse_query("n_chars:>100")
    parse_query("* n_chars:>100")  # fine with explicit match-all


# ------------------------------------------------------------- fixtures
@pytest.fixture(scope="module")
def docs_pdf():
    rng = np.random.default_rng(11)
    vocab = ["merge", "table", "window", "scan", "sort", "key", "dup"]
    tools = ["", "bash", "search", ""]
    rows = []
    for i in range(400):
        n = int(rng.integers(3, 12))
        text = " ".join(rng.choice(vocab, n))
        rows.append((i, text, len(text), tools[i % 4],
                     ["en", "de", "fr"][i % 3]))
    return pd.DataFrame(rows, columns=["doc_id", "text", "n_chars",
                                       "tool", "lang"])


@pytest.fixture(scope="module")
def qreader(spark, docs_pdf, tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    out = str(tmp_path_factory.mktemp("idx_qtypes"))
    build_index(spark, spark.createDataFrame(docs_pdf), out,
                doc_id_col="doc_id", rows_per_segment=100,
                attr_cols=("tool", "lang"))
    return IndexReader(spark, out)


@pytest.fixture(scope="module")
def con(docs_pdf):
    c = duckdb.connect()
    c.register("documents", docs_pdf)
    return c


def _spark_rows(df):
    return [(r["doc_id"], round(r["score"], 4)) for r in df.collect()]


# ------------------------------------------------- boost vs DuckDB oracle
BOOST_QUERIES = [
    "merge^2 table",
    "merge^0.5 table^3",
    '"merge table"^2 window',
    "mer*^2 table",
    "sort~1^2.5 merge",
    "merge^2 -window",
]


def test_boost_matches_duckdb_oracle(qreader, con):
    from cuely_spark.oracle_sql import bm25_search_sql

    for q in BOOST_QUERIES:
        got = _spark_rows(qreader.search(q, k=qreader.num_docs,
                                         dtype=np.float64))
        want = con.execute(bm25_search_sql(q, k=None)).fetchall()
        assert sorted(d for d, _ in got) == sorted(d for d, _ in want), q
        gs = dict(got)
        for d, s in want:
            np.testing.assert_allclose(gs[d], s, atol=2e-4, err_msg=q)


def test_boost_scales_scores_linearly(qreader):
    base = dict(_spark_rows(qreader.search("merge", k=qreader.num_docs,
                                           dtype=np.float64)))
    boosted = dict(_spark_rows(qreader.search(
        "merge^2", k=qreader.num_docs, dtype=np.float64)))
    assert set(base) == set(boosted) and base
    for d, s in base.items():
        np.testing.assert_allclose(boosted[d], 2 * s, atol=2e-4)


def test_boost_changes_ranking_not_membership(qreader):
    """Down-boosting one AND term reweights the blend but keeps the
    candidate set."""
    a = qreader.search("merge table", k=qreader.num_docs).collect()
    b = qreader.search("merge^0.1 table", k=qreader.num_docs).collect()
    assert {r["doc_id"] for r in a} == {r["doc_id"] for r in b}


# --------------------------------------------------------------- termset
def test_termset_matches_duckdb_oracle(qreader, con):
    from cuely_spark.oracle_sql import bm25_search_sql, count_sql

    for q in ("merge|window table", "scan|sort|key", "merge|window^2",
              "merge|window -scan"):
        got = _spark_rows(qreader.search(q, k=qreader.num_docs,
                                         dtype=np.float64))
        want = con.execute(bm25_search_sql(q, k=None)).fetchall()
        assert sorted(got) == sorted([(d, round(s, 4))
                                      for d, s in want]), q
        assert qreader.count(q) == con.execute(
            count_sql(q)).fetchone()[0], q


def test_termset_const_score_semantics(qreader, docs_pdf):
    """TermSetQuery scores a flat 1.0 regardless of tf/df (tantivy
    set_query.rs: DoNothingCombiner)."""
    got = dict(_spark_rows(qreader.search("merge|window",
                                          k=qreader.num_docs)))
    member = {
        int(r.doc_id) for _, r in docs_pdf.iterrows()
        if {"merge", "window"} & set(r.text.split())}
    assert set(got) == member
    assert set(got.values()) == {1.0}


# ------------------------------------------------------------ all/exists
def test_match_all_and_exists_vs_oracle(qreader, con):
    from cuely_spark.oracle_sql import match_all_sql

    for q in ("*", "* n_chars:>40", "* tool:*", "* -tool:*",
              "* tool:* n_chars:20..50", "* -merge", "*^2 -lang:en"):
        got = _spark_rows(qreader.search(q, k=qreader.num_docs,
                                         dtype=np.float64))
        want = [(d, round(s, 4)) for d, s in
                con.execute(match_all_sql(q, k=None)).fetchall()]
        assert sorted(got) == sorted(want), q


def test_exists_composes_with_terms(qreader, con):
    from cuely_spark.oracle_sql import bm25_search_sql, count_sql

    for q in ("merge tool:*", "merge -tool:*", "merge|scan tool:*",
              '"merge table" tool:* -lang:fr'):
        got = _spark_rows(qreader.search(q, k=qreader.num_docs,
                                         dtype=np.float64))
        want = [(d, round(s, 4)) for d, s in
                con.execute(bm25_search_sql(q, k=None)).fetchall()]
        assert sorted(got) == sorted(want), q
        assert qreader.count(q) == con.execute(
            count_sql(q)).fetchone()[0], q


def test_exists_is_unscored(qreader):
    base = dict(_spark_rows(qreader.search("merge",
                                           k=qreader.num_docs)))
    got = dict(_spark_rows(qreader.search("merge tool:*",
                                          k=qreader.num_docs)))
    assert got and set(got) < set(base)
    for d, s in got.items():
        assert s == base[d]


def test_match_all_count_and_pagination(qreader, docs_pdf, con):
    from cuely_spark.oracle_sql import count_sql

    assert qreader.count("*") == len(docs_pdf)
    n_with_tool = int((docs_pdf.tool != "").sum())
    assert qreader.count("* tool:*") == n_with_tool
    assert qreader.count("* -tool:*") == len(docs_pdf) - n_with_tool
    assert qreader.count("* tool:*") == con.execute(
        count_sql("* tool:*")).fetchone()[0]
    # pagination over the doc_id-asc match-all ordering
    page = qreader.search("*", k=10, offset=10).collect()
    assert [r["doc_id"] for r in page] == list(range(10, 20))


def test_search_all_errors(qreader):
    # ts parses as a range field but this index has no ts column
    with pytest.raises(ValueError, match="not in the row store"):
        qreader.search("* ts:>=2025-01-01").collect()
    with pytest.raises(ValueError):
        qreader.search("* n_chars:>10", occur="should")


# ---------------------------------------------------------------- dismax
def test_dismax_matches_duckdb_oracle(qreader, con):
    from cuely_spark.oracle_sql import bm25_search_sql

    for q, tie in (("merge window", 0.0), ("merge window scan", 0.3),
                   ("merge window", 1.0), ("merge^2 window", 0.25)):
        got = _spark_rows(qreader.search(q, k=qreader.num_docs,
                                         dtype=np.float64,
                                         occur="dismax",
                                         tie_breaker=tie))
        want = [(d, round(s, 4)) for d, s in con.execute(
            bm25_search_sql(q, k=None, occur="dismax",
                            tie=tie)).fetchall()]
        assert sorted(got) == sorted(want), (q, tie)


def test_dismax_bounds_and_identities(qreader):
    """tie=1 == should (sum); tie=0 == pure max; in between sits
    between the two (score_combiner.rs:82-115)."""
    q = "merge window"
    k = qreader.num_docs
    ssum = dict(_spark_rows(qreader.search(q, k=k, dtype=np.float64,
                                           occur="should")))
    smax = dict(_spark_rows(qreader.search(q, k=k, dtype=np.float64,
                                           occur="dismax",
                                           tie_breaker=0.0)))
    smid = dict(_spark_rows(qreader.search(q, k=k, dtype=np.float64,
                                           occur="dismax",
                                           tie_breaker=0.5)))
    stie1 = dict(_spark_rows(qreader.search(q, k=k, dtype=np.float64,
                                            occur="dismax",
                                            tie_breaker=1.0)))
    assert set(ssum) == set(smax) == set(smid) == set(stie1)
    for d in ssum:
        np.testing.assert_allclose(stie1[d], ssum[d], atol=2e-4)
        assert smax[d] <= smid[d] + 1e-9 <= ssum[d] + 2e-9
    with pytest.raises(ValueError):
        qreader.search(q, occur="dismax", tie_breaker=1.5).collect()


# ----------------------------------------------------------- const_score
def test_const_score_membership_and_score(qreader):
    """ConstScoreQuery: same members as the wrapped query, fixed
    score; ranking degenerates to doc_id asc."""
    base = qreader.search('"merge table" -window',
                          k=qreader.num_docs).collect()
    got = qreader.search('"merge table" -window', k=qreader.num_docs,
                         const_score=7.5).collect()
    assert sorted(r["doc_id"] for r in got) == \
        sorted(r["doc_id"] for r in base)
    assert {r["score"] for r in got} == {7.5}
    assert [r["doc_id"] for r in got] == \
        sorted(r["doc_id"] for r in got)
    with pytest.raises(ValueError):
        qreader.search("merge", occur="should",
                       const_score=1.0).collect()


# ------------------------------------- local / batch / distributed parity
def test_local_path_parity_new_types(qreader):
    """search_local must agree with the distributed path on every new
    query type (rank AND score)."""
    cases = [
        dict(q="merge^2 table"),
        dict(q="merge|window table"),
        dict(q="merge tool:*"),
        dict(q="merge -tool:*"),
        dict(q="* n_chars:>40"),
        dict(q="* -tool:* -merge"),
        dict(q="merge window", occur="dismax", tie_breaker=0.3),
        dict(q='"merge table"', const_score=2.0),
    ]
    for case in cases:
        q = case.pop("q")
        rows = qreader.search(q, k=25, dtype=np.float64,
                              **case).collect()
        dl, sl = qreader.search_local(q, k=25, dtype=np.float64,
                                      **case)
        assert dl.tolist() == [r["doc_id"] for r in rows], q
        np.testing.assert_allclose(sl, [r["score"] for r in rows],
                                   rtol=1e-9, err_msg=q)


def test_batch_parity_new_types(qreader):
    """search_many carries boost/termset/exists through the one-job
    batch path with full parity against search()."""
    batch = {
        "boost": "merge^2 table",
        "tset": "merge|window table",
        "exists": "merge tool:*",
        "plain": "merge table",
    }
    res = qreader.search_many(batch, k=25, dtype=np.float64).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 4)))
    for name, q in batch.items():
        rows = qreader.search(q, k=25, dtype=np.float64).collect()
        assert sorted(by_q[name]) == [
            (i + 1, r["doc_id"], round(r["score"], 4))
            for i, r in enumerate(rows)], name


def test_batch_rejects_pure_match_all(qreader):
    with pytest.raises(ValueError, match="match-all"):
        qreader.search_many({"bad": "* n_chars:>10"}, k=5).collect()


# ----------------------------------------------- merged-index match-all
def test_match_all_on_merged_index(spark, docs_pdf, tmp_path_factory):
    """_search_all's segment-map remap: a merged index keeps SOURCE
    segment ids in the row store; exists/range row-store candidates
    must land in the right kernel segment."""
    from cuely_spark.indexer import build_index, merge_segments
    from cuely_spark.queryengine import IndexReader

    src = str(tmp_path_factory.mktemp("idx_qt_src"))
    dst = str(tmp_path_factory.mktemp("idx_qt_merged"))
    build_index(spark, spark.createDataFrame(docs_pdf), src,
                doc_id_col="doc_id", rows_per_segment=100,
                attr_cols=("tool", "lang"))
    merge_segments(spark, src, dst, target_segments=1)
    r = IndexReader(spark, dst)
    got = _spark_rows(r.search("* tool:* n_chars:>30",
                               k=r.num_docs))
    want = [(int(x.doc_id), 1.0) for _, x in docs_pdf.iterrows()
            if x.tool != "" and x.n_chars > 30]
    assert sorted(got) == sorted(want)


def test_match_all_plan_shape(qreader):
    """100-TB shape of the match-all path (docs/PLANS.md): row-store
    filters pushed into the parquet scan, negation as a BROADCAST
    LeftAnti join (the corpus side never shuffles), no cartesian."""
    spark = qreader.spark
    # PushedFilters lists are truncated at maxMetadataStringLength (100)
    # in the plan string; widen both limits so every filter is visible.
    old_fields = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    old_meta = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        df = qreader.search("* tool:* n_chars:20..50 -merge",
                            k=qreader.num_docs)
        plan = df._jdf.queryExecution().toString()
        assert "GreaterThanOrEqual(n_chars,20)" in plan
        assert "Not(EqualTo(tool,))" in plan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        # the negated term's postings come from posting tasks that read
        # only its row groups: Spark never scans the posting files
        assert "MapInArrow" in plan and "kind=p" not in plan
    finally:
        spark.conf.set("spark.sql.debug.maxToStringFields", old_fields)
        spark.conf.set("spark.sql.maxMetadataStringLength", old_meta)
