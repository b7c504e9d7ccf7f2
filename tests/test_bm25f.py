"""Multi-field postings + BM25F vs an independent brute-force oracle.

Semantics pinned (reference: crates/core/src/ranking/bm25f.rs:64-181,
schema/text_field.rs:97-130): IDF from the union-of-fields doc freq,
per-field fieldnorm quantization / avg field length, field coefficient
applied to tf inside the saturation, membership = term in ANY field with
AND across terms.
"""

import numpy as np
import pytest

from cuely_spark.fieldnorm import fieldnorm_to_id
from cuely_spark.tokenizer import tokenize

K1, B = 1.2, 0.75


def _brute_bm25f(texts_by_field, coeffs, query_terms, neg_terms=()):
    """Pure-python BM25F: {field: [texts]}, float64."""
    fields = list(texts_by_field)
    toks = {f: [tokenize(t) for t in texts_by_field[f]] for f in fields}
    n = len(next(iter(texts_by_field.values())))
    avg = {f: (sum(len(t) for t in toks[f]) / n) or 1.0 for f in fields}
    fn = {f: [int(fieldnorm_to_id(np.array([len(t)]))[0])
              for t in toks[f]] for f in fields}
    from cuely_spark.fieldnorm import FIELD_NORMS_TABLE

    def idf_u(term):
        df = sum(1 for d in range(n)
                 if any(term in toks[f][d] for f in fields))
        return np.log(1.0 + (n - df + 0.5) / (df + 0.5))

    out = {}
    for d in range(n):
        if not all(any(t in toks[f][d] for f in fields)
                   for t in query_terms):
            continue
        if any(all(any(t in toks[f][d] for f in fields) for t in grp)
               for grp in neg_terms):
            continue
        s = 0.0
        for t in query_terms:
            for f in fields:
                tf = toks[f][d].count(t) * coeffs.get(f, 1.0)
                if tf == 0:
                    continue
                norm = K1 * (1 - B + B * float(
                    FIELD_NORMS_TABLE[fn[f][d]]) / avg[f])
                s += idf_u(t) * (tf * (K1 + 1)) / (tf + norm)
        out[d] = s
    return sorted(out.items(), key=lambda x: (-x[1], x[0]))


@pytest.fixture(scope="module")
def bm25f_index(spark, tmp_path_factory):
    import pandas as pd

    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    rng = np.random.default_rng(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    titles_vocab = ["tag0", "tag1", "alpha", "beta"]
    n = 120
    body = [" ".join(rng.choice(vocab, size=int(rng.integers(1, 25))))
            for _ in range(n)]
    title = [" ".join(rng.choice(titles_vocab,
                                 size=int(rng.integers(1, 4))))
             for _ in range(n)]
    pdf = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                        "text": body, "title": title})
    out = str(tmp_path_factory.mktemp("bm25f_idx"))
    df = spark.createDataFrame(pdf)
    build_index(spark, df, out, text_col="text", doc_id_col="doc_id",
                rows_per_segment=40, num_jobs=1, field_cols=("title",))
    return IndexReader(spark, out), {"text": body, "title": title}


def test_bm25f_matches_bruteforce(bm25f_index):
    r, fields = bm25f_index
    coeffs = {"text": 1.0, "title": 2.0}
    for q, terms, negs in [
        ("alpha", ["alpha"], []),
        ("alpha beta", ["alpha", "beta"], []),
        ("tag0 gamma", ["tag0", "gamma"], []),      # tag0: title-only
        ("alpha -tag1", ["alpha"], [["tag1"]]),     # neg in any field
    ]:
        exp = _brute_bm25f(fields, coeffs, terms, negs)
        res = r.search_bm25f(q, k=len(fields["text"]), dtype=np.float64,
                             field_coeffs={"title": 2.0})
        rows = res.collect()
        got = [(row["doc_id"], row["score"]) for row in rows]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in exp], rtol=1e-9)


def test_bm25f_union_idf_differs_from_field_idf(bm25f_index):
    """'alpha' is common across body+title; its union df must be >= the
    per-field df (the 'the is rare in titles' effect the AllBody df
    exists to fix)."""
    r, fields = bm25f_index
    dfs = r.term_dfs(["alpha", "f:title:alpha", "u:alpha"])
    assert dfs["u:alpha"] >= max(dfs["alpha"], dfs["f:title:alpha"])
    assert dfs["u:alpha"] <= dfs["alpha"] + dfs["f:title:alpha"]
    assert dfs["f:title:alpha"] > 0


def test_bm25f_offset_pagination(bm25f_index):
    r, _ = bm25f_index
    full = [row["doc_id"]
            for row in r.search_bm25f("alpha", k=30).collect()]
    page2 = [row["doc_id"]
             for row in r.search_bm25f("alpha", k=10, offset=10).collect()]
    assert page2 == full[10:20]


def test_bm25f_rejects_phrases_and_unknown_fields(bm25f_index):
    r, _ = bm25f_index
    with pytest.raises(ValueError):
        r.search_bm25f('"alpha beta"')
    with pytest.raises(ValueError):
        r.search_bm25f("alpha", field_coeffs={"nope": 2.0})


def test_plain_search_unchanged_by_extra_fields(bm25f_index):
    """The primary-field BM25 path must ignore extra fields entirely:
    doclen / fieldnorm / df of the text field exclude title tokens."""
    r, fields = bm25f_index
    from cuely_spark.oracle import OracleIndex

    oracle = OracleIndex(np.arange(len(fields["text"]), dtype=np.int64),
                         fields["text"])
    exp_d, exp_s = oracle.search("alpha beta", k=15)
    rows = r.search("alpha beta", k=15).collect()
    assert [row["doc_id"] for row in rows] == list(exp_d)
    np.testing.assert_allclose(
        [row["score"] for row in rows], exp_s, rtol=1e-6)


def test_bm25f_batch_matches_single(bm25f_index):
    """A bm25f spec in search_many returns exactly search_bm25f's
    results (same or-group plan per segment), alongside plain-BM25
    queries in the same batch."""
    r, fields = bm25f_index
    n = len(fields["text"])
    batch = {
        "f1": {"q": "alpha beta", "bm25f": True,
               "field_coeffs": {"title": 2.0}},
        "f2": {"q": "tag0 gamma", "bm25f": True},
        "plain": "alpha beta",
    }
    res = r.search_many(batch, k=n, dtype=np.float64).collect()
    by_q = {}
    for row in res:
        by_q.setdefault(row["query"], []).append(
            (row["rank"], row["doc_id"], row["score"]))
    for name, spec in [("f1", {"field_coeffs": {"title": 2.0}}),
                       ("f2", {})]:
        single = r.search_bm25f(batch[name]["q"], k=n, dtype=np.float64,
                                **spec).collect()
        exp = [(i + 1, row["doc_id"], row["score"])
               for i, row in enumerate(single)]
        assert sorted(by_q[name]) == exp, name
    plain = r.search("alpha beta", k=n, dtype=np.float64).collect()
    assert sorted(by_q["plain"]) == [
        (i + 1, row["doc_id"], row["score"])
        for i, row in enumerate(plain)]


def test_bm25f_batch_validation(bm25f_index):
    """Batch bm25f specs go through the same plan as search_bm25f:
    phrases and unknown fields are rejected, and a negation excludes a
    doc holding the term in any field in both, matching the brute-force
    model at float64."""
    r, fields = bm25f_index
    n = len(fields["text"])

    with pytest.raises(ValueError):
        r.search_many({"x": {"q": '"alpha beta"', "bm25f": True}})
    with pytest.raises(ValueError):
        r.search_many({"x": {"q": "alpha", "bm25f": True,
                             "field_coeffs": {"nope": 1.0}}})
    # tag1 occurs in titles only, beta in both fields
    for q, terms, negs in [("alpha -tag1", ["alpha"], [["tag1"]]),
                           ("gamma -beta", ["gamma"], [["beta"]])]:
        rows = r.search_many({"x": {"q": q, "bm25f": True}},
                             k=n, dtype=np.float64).collect()
        got = [(row["doc_id"], row["score"])
               for row in sorted(rows, key=lambda row: row["rank"])]
        single = [(row["doc_id"], row["score"]) for row in
                  r.search_bm25f(q, k=n, dtype=np.float64).collect()]
        assert got == single, q
        exp = _brute_bm25f(fields, {}, terms, negs)
        assert [d for d, _ in got] == [d for d, _ in exp], q
        np.testing.assert_allclose([s for _, s in got],
                                   [s for _, s in exp], rtol=1e-9)


@pytest.mark.parametrize("seed", [11, 22])
def test_bm25f_randomized_fuzz(spark, tmp_path_factory, seed):
    """Randomized 2-field corpora: search_bm25f must match the
    brute-force BM25F model on every trial (random coefficients, random
    conjunctions, fields with disjoint and overlapping vocab)."""
    import pandas as pd

    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    rng = np.random.default_rng(seed)
    body_vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    title_vocab = ["tag0", "tag1", "alpha", "gamma"]
    n = int(rng.integers(30, 90))
    body = [" ".join(rng.choice(body_vocab,
                                size=int(rng.integers(1, 18))))
            for _ in range(n)]
    title = [" ".join(rng.choice(title_vocab,
                                 size=int(rng.integers(1, 4))))
             for _ in range(n)]
    pdf = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                        "text": body, "title": title})
    out = str(tmp_path_factory.mktemp(f"bm25f_fuzz{seed}"))
    build_index(spark, spark.createDataFrame(pdf), out, text_col="text",
                doc_id_col="doc_id", rows_per_segment=25, num_jobs=1,
                field_cols=("title",))
    r = IndexReader(spark, out)
    fields = {"text": body, "title": title}
    for _ in range(6):
        ct = round(float(rng.uniform(0.2, 3.0)), 2)
        cb = round(float(rng.uniform(0.2, 3.0)), 2)
        terms = list(rng.choice(sorted(set(body_vocab) | set(title_vocab)),
                                size=int(rng.integers(1, 3)),
                                replace=False))
        terms = [str(t) for t in terms]
        coeffs = {"text": cb, "title": ct}
        exp = _brute_bm25f(fields, coeffs, terms)
        rows = r.search_bm25f(" ".join(terms), k=n, dtype=np.float64,
                              field_coeffs=coeffs).collect()
        got = [(row["doc_id"], row["score"]) for row in rows]
        assert [d for d, _ in got] == [d for d, _ in exp], (terms, coeffs)
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in exp], rtol=1e-9)
