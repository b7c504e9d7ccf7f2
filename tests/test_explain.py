"""Explain API (tantivy Query::explain / Lucene explain format).

The contract under test: for ANY query the engine supports on the
plain-BM25 surface, `reader.explain(q, doc)` returns a tree whose root
value equals the score `search_local` produces for that doc at the same
dtype — exactly, because the explainer replays the kernel's own
accumulation — and raises DoesNotMatch for non-matching docs
(crates/tantivy/src/query/explanation.rs:8-10).
"""
import json

import numpy as np
import pandas as pd
import pytest

from cuely_spark.queryengine.explain import DoesNotMatch, Explanation


@pytest.fixture(scope="module")
def docs_pdf():
    rng = np.random.default_rng(7)
    vocab = ["merge", "table", "window", "scan", "sort", "key", "dup",
             "merged", "merging"]
    tools = ["", "bash", "search", ""]
    rows = []
    for i in range(400):
        n = int(rng.integers(3, 14))
        text = " ".join(rng.choice(vocab, n))
        rows.append((i, text, len(text), tools[i % 4],
                     ["en", "de", "fr"][i % 3]))
    return pd.DataFrame(rows, columns=["doc_id", "text", "n_chars",
                                       "tool", "lang"])


@pytest.fixture(scope="module")
def ereader(spark, docs_pdf, tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    out = str(tmp_path_factory.mktemp("idx_explain"))
    build_index(spark, spark.createDataFrame(docs_pdf), out,
                doc_id_col="doc_id", rows_per_segment=100,
                attr_cols=("tool", "lang"))
    return IndexReader(spark, out)


def _score_of(r, q, doc, **kw):
    docs, scores = r.search_local(q, k=r.num_docs, **kw)
    hit = np.nonzero(docs == doc)[0]
    assert hit.size == 1, f"doc {doc} not in results of {q!r}"
    return float(scores[hit[0]])


def _matching_docs(r, q, n=5, **kw):
    docs, _ = r.search_local(q, k=r.num_docs, **kw)
    return [int(x) for x in docs[:n]]


# ----------------------------------------------------------- term leaf
def test_term_leaf_matches_engine(ereader):
    r = ereader
    for doc in _matching_docs(r, "merge"):
        exp = r.explain("merge", doc)
        assert exp.value == _score_of(r, "merge", doc)
        assert exp.description.startswith("TermQuery, product of")
        assert exp.context == ["Term='merge'"]
        kinds = [d.description for d in exp.details]
        assert kinds[0] == "(K1+1)"
        assert kinds[1].startswith("idf, computed as")
        # product of the three factors reproduces the value
        prod = np.float32(1.0)
        for det in exp.details:
            prod = np.float32(prod * np.float32(det.value))
        assert abs(prod - exp.value) <= 1e-5 * abs(exp.value) + 1e-8
        # the tf detail carries the Lucene constants
        tf_node = exp.details[2]
        names = [d.description.split(",")[0] for d in tf_node.details]
        assert names == ["freq", "k1", "b", "dl", "avgdl"]


def test_multi_term_sum(ereader):
    r = ereader
    q = "merge table"
    for doc in _matching_docs(r, q, 3):
        exp = r.explain(q, doc)
        assert exp.value == _score_of(r, q, doc)
        assert exp.description == "BooleanClause. sum of ..."
        assert len(exp.details) == 2
        acc = np.zeros(1, dtype=np.float32)
        for det in exp.details:
            acc = (acc + np.float32(det.value)).astype(np.float32)
        assert float(acc[0]) == exp.value


def test_float64_mode(ereader):
    r = ereader
    doc = _matching_docs(r, "merge table", 1)[0]
    exp = r.explain("merge table", doc, dtype=np.float64)
    assert exp.value == _score_of(r, "merge table", doc,
                                  dtype=np.float64)


# ------------------------------------------------------ does not match
def test_does_not_match(ereader, docs_pdf):
    r = ereader
    no_merge = docs_pdf[~docs_pdf.text.str.contains("merge")
                        ].doc_id.iloc[0]
    with pytest.raises(DoesNotMatch, match=r"does not match"):
        r.explain("merge", int(no_merge))
    # out-of-range doc
    with pytest.raises(DoesNotMatch):
        r.explain("merge", r.num_docs + 5)
    # negation excludes
    has_both = docs_pdf[docs_pdf.text.str.contains("merge")
                        & docs_pdf.text.str.contains("table")
                        ].doc_id.iloc[0]
    with pytest.raises(DoesNotMatch):
        r.explain("merge -table", int(has_both))
    # range filter excludes
    with pytest.raises(DoesNotMatch):
        r.explain("merge n_chars:>100000", int(has_both))
    # dead term
    with pytest.raises(DoesNotMatch):
        r.explain("merge zzzzmissing", int(has_both))


# ------------------------------------------------------------- phrase
def test_phrase_explain(ereader, docs_pdf):
    r = ereader
    q = '"merge table"'
    docs = _matching_docs(r, q, 3)
    assert docs, "fixture must contain the phrase"
    for doc in docs:
        exp = r.explain(q, doc)
        assert exp.value == _score_of(r, q, doc)
        assert exp.description == "Phrase Scorer"
        assert exp.context == ['Phrase="merge table"']
        leaf = exp.details[0]
        freq = [d for d in leaf.details[2].details
                if d.description.startswith("freq")][0]
        assert freq.value >= 1
    # a doc with both words but never adjacent does not match
    toks = docs_pdf.text.str.split()

    def adjacent(ts):
        return any(a == "merge" and b == "table"
                   for a, b in zip(ts, ts[1:]))
    near = docs_pdf[toks.apply(
        lambda ts: "merge" in ts and "table" in ts
        and not adjacent(ts))]
    if len(near):
        with pytest.raises(DoesNotMatch):
            r.explain(q, int(near.doc_id.iloc[0]))


def test_phrase_slop_explain(ereader):
    r = ereader
    q = '"merge table"~2'
    for doc in _matching_docs(r, q, 2):
        exp = r.explain(q, doc)
        assert exp.value == _score_of(r, q, doc)
        assert 'Phrase="merge table"~2' in exp.context[0]


# ------------------------------------------------------------- boost
def test_boost_wrapper(ereader):
    r = ereader
    q = "merge^2 table"
    doc = _matching_docs(r, q, 1)[0]
    exp = r.explain(q, doc)
    assert exp.value == _score_of(r, q, doc)
    boosted = exp.details[0]
    assert boosted.description == "Boost x2.0 of ..."
    inner = boosted.details[0]
    # boosted value ~= boost x unboosted detail
    assert abs(boosted.value - 2.0 * inner.value) \
        <= 1e-5 * abs(boosted.value)


# --------------------------------------------- filters, ranges, exists
def test_filter_range_exists_nodes(ereader):
    r = ereader
    q = "merge lang:de n_chars:>10 tool:*"
    docs = _matching_docs(r, q, 2)
    for doc in docs:
        exp = r.explain(q, doc)
        assert exp.value == _score_of(r, q, doc)
        descs = [d.description for d in exp.details]
        assert "Unscored Must (attribute filter)" in descs
        assert "Unscored Must (range filter)" in descs
        assert "Unscored Must (exists filter)" in descs
        # only the term contributes score
        assert exp.value == [d for d in exp.details
                             if d.description.startswith("TermQuery")
                             ][0].value


# ------------------------------------------- termset / all / const
def test_termset_and_const(ereader):
    r = ereader
    q = "merge|window table"
    doc = _matching_docs(r, q, 1)[0]
    exp = r.explain(q, doc)
    assert exp.value == _score_of(r, q, doc)
    ts = [d for d in exp.details
          if d.description.startswith("TermSetQuery")][0]
    assert ts.value == 1.0

    exp_c = r.explain(q, doc, const_score=7.5)
    score_c = _score_of(r, q, doc, const_score=7.5)
    assert exp_c.value == score_c == 7.5
    assert exp_c.description == "Const"


def test_match_all_explain(ereader):
    r = ereader
    q = "* n_chars:>10"
    doc = _matching_docs(r, q, 1)[0]
    exp = r.explain(q, doc)
    assert exp.value == _score_of(r, q, doc) == 1.0
    with pytest.raises(DoesNotMatch):
        r.explain("* n_chars:>100000", doc)


# --------------------------------------------------- should / dismax
def test_union_should_and_dismax(ereader):
    r = ereader
    q = "merge table window"
    for occ, kw in [("should", {}), ("dismax", {"tie_breaker": 0.3})]:
        doc = _matching_docs(r, q, 1, occur=occ, **kw)[0]
        exp = r.explain(q, doc, occur=occ, **kw)
        assert exp.value == _score_of(r, q, doc, occur=occ, **kw)
        if occ == "dismax":
            assert exp.description.startswith("DisjunctionMax")


def test_should_param(ereader):
    r = ereader
    doc = _matching_docs(r, "merge", 1, should="table window")[0]
    exp = r.explain("merge", doc, should="table window")
    assert exp.value == _score_of(r, "merge", doc,
                                  should="table window")
    shoulds = [d for d in (exp.details or [])
               if d.description.startswith("Should")]
    assert exp.description == "BooleanClause. sum of ..."
    # every should node wraps a TermQuery leaf
    for s in shoulds:
        assert s.details[0].description.startswith("TermQuery")


# ----------------------------------------------------- fuzzy expansion
def test_fuzzy_expansion_or_group(ereader):
    r = ereader
    q = "merge~1 table"
    doc = _matching_docs(r, q, 1)[0]
    exp = r.explain(q, doc)
    assert exp.value == _score_of(r, q, doc)
    group = [d for d in exp.details
             if d.description.startswith("Or (expansion)")]
    assert group, [d.description for d in exp.details]
    # members are term leaves; group value is the sum of members
    g = group[0]
    acc = np.float32(0.0)
    for m in g.details:
        acc = np.float32(acc + np.float32(m.value))
    assert abs(acc - g.value) <= 1e-5 * abs(g.value) + 1e-8


# ------------------------------------------------------------- output
def test_pretty_json_roundtrip(ereader):
    r = ereader
    doc = _matching_docs(r, "merge table", 1)[0]
    exp = r.explain("merge table", doc)
    parsed = json.loads(exp.to_pretty_json())
    assert parsed["description"] == "BooleanClause. sum of ..."
    assert parsed["value"] == exp.value
    assert len(parsed["details"]) == 2
    # leaves() helper surfaces the BM25 leaves in tree order
    leaves = exp.leaves()
    assert len(leaves) == 2
    assert all(l.description.startswith("TermQuery") for l in leaves)


def test_explanation_api():
    e = Explanation("root", 2.0)
    e.add_const("c", 1.0)
    e.add_context("ctx")
    d = e.to_dict()
    assert d == {"value": 2.0, "description": "root",
                 "details": [{"value": 1.0, "description": "c"}],
                 "context": ["ctx"]}


# ------------------------------------------------------- randomized fuzz
def test_explain_fuzz_matches_search(ereader, docs_pdf):
    """Randomized queries x docs: explain() agrees with search_local
    on BOTH membership and score — DoesNotMatch iff the doc is absent
    from the full result set, value == score when present."""
    r = ereader
    rng = np.random.default_rng(23)
    vocab = ["merge", "table", "window", "scan", "sort", "key", "dup",
             "merged"]
    queries = []
    for _ in range(12):
        n = int(rng.integers(1, 4))
        toks = list(rng.choice(vocab, n, replace=False))
        q = " ".join(toks)
        kind = int(rng.integers(0, 4))
        if kind == 1 and n >= 2:
            q = f'"{toks[0]} {toks[1]}"~{int(rng.integers(0, 3))}'
        elif kind == 2:
            q = q + " -" + str(rng.choice(
                [v for v in vocab if v not in toks]))
        elif kind == 3:
            q = f"{toks[0]}^{round(float(rng.uniform(0.5, 3)), 1)}" \
                + (" " + " ".join(toks[1:]) if n > 1 else "")
        queries.append(q)
    sample_docs = rng.choice(len(docs_pdf), 15, replace=False)
    for q in queries:
        docs, scores = r.search_local(q, k=r.num_docs)
        by_doc = dict(zip(docs.tolist(), scores.tolist()))
        for doc in sample_docs:
            doc = int(doc)
            if doc in by_doc:
                exp = r.explain(q, doc)
                assert exp.value == pytest.approx(
                    by_doc[doc], rel=1e-6), (q, doc)
            else:
                with pytest.raises(DoesNotMatch):
                    r.explain(q, doc)


# ----------------------------------- offsets-mode + merged index paths
def test_explain_offsets_mode_and_merged(spark, merged):
    """Explain on (a) an offsets-mode index (no doc_id column:
    doc_id = segment offset + __ord) and (b) a merged index (row store
    keeps pre-merge segment dirs) — both must agree with search_local
    on membership and score."""
    from cuely_spark.queryengine import IndexReader

    for path in merged:
        r = IndexReader(spark, path)
        for q in ["test website", '"example website"', "the -test"]:
            docs, scores = r.search_local(q, k=r.num_docs)
            assert docs.size > 0, (path, q)
            for i in [0, docs.size // 2, docs.size - 1]:
                exp = r.explain(q, int(docs[i]))
                assert exp.value == pytest.approx(
                    float(scores[i]), rel=1e-6), (path, q, i)
            absent = next(d for d in range(r.num_docs)
                          if d not in set(docs.tolist()))
            with pytest.raises(DoesNotMatch):
                r.explain(q, absent)
