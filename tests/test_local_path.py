"""Driver-local query path (IndexReader.search_local) must be
rank-AND-score-identical to the distributed Spark path for every query
shape it supports — same kernel, same merge order, only the transport
differs."""

import numpy as np
import pytest

from conftest import QUERY_SET


@pytest.fixture(scope="module")
def reader(spark, transcripts_small, tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    df = spark.createDataFrame(
        transcripts_small.drop(columns=["expected_doc_id"]))
    out = str(tmp_path_factory.mktemp("idx_local"))
    build_index(spark, df, out, rows_per_segment=1200,
                attr_cols=("role", "tool"))
    return IndexReader(spark, out)


@pytest.mark.parametrize("q", list(QUERY_SET))
def test_local_matches_distributed(reader, q):
    try:
        dl, sl = reader.search_local(q, k=20)
    except ValueError:
        pytest.skip("empty query")
    dd, sd = reader.search_collect(q, k=20, local=False)
    assert dl.tolist() == dd.tolist()
    np.testing.assert_array_equal(sl, sd)


def test_local_matches_distributed_features(reader):
    # offset pagination
    dl, sl = reader.search_local("the test", k=10, offset=5)
    dd, sd = reader.search_collect("the test", k=15, local=False)
    assert dl.tolist() == dd.tolist()[5:15]
    # should clauses
    dl, sl = reader.search_local("test", k=15, should="example website")
    rows = reader.search("test", k=15, should="example website").collect()
    assert dl.tolist() == [r["doc_id"] for r in rows]
    np.testing.assert_allclose(
        sl, [r["score"] for r in rows], rtol=1e-6)
    # scored disjunction
    dl, sl = reader.search_local("test website", k=15, occur="should")
    dd, sd = reader.search_collect("test website", k=15, local=False) \
        if False else (None, None)
    rows = reader.search("test website", k=15, occur="should").collect()
    assert dl.tolist() == [r["doc_id"] for r in rows]
    # phrase with slop
    dl, sl = reader.search_local('"test website"~2', k=20)
    rows = reader.search('"test website"~2', k=20).collect()
    assert dl.tolist() == [r["doc_id"] for r in rows]


def test_search_collect_auto_routes(reader):
    # auto mode (small query) must give identical results to forced-off
    d1, s1 = reader.search_collect("example website", k=20)
    d2, s2 = reader.search_collect("example website", k=20, local=False)
    assert d1.tolist() == d2.tolist()
    np.testing.assert_array_equal(s1, s2)
    # threshold 0 disables auto-routing (no error, same results)
    reader.local_threshold = 0
    try:
        d3, _ = reader.search_collect("example website", k=20)
    finally:
        reader.local_threshold = 4096
    assert d3.tolist() == d1.tolist()


# ---------------------------------------------------------------------
# path-parity fuzz: every entry point that runs a query must agree on
# (doc_id, score) and on the hit count, whichever executor it takes

K = 15


def _fuzz_queries(texts, n, seed=20261017):
    """[(query, kwargs)] drawn from the query grammar: terms (with
    boosts), `-` negations, phrases with `~slop`, phrase-prefix
    `"a b"*`, `word*`, `word~1`, attribute filters, `should=` and
    occur="should"/"dismax". Words and phrases come from the corpus,
    so most queries have hits."""
    import random
    from collections import Counter

    from cuely_spark.tokenizer import tokenize

    rng = random.Random(seed)
    docs = [tokenize(t) for t in texts]
    ranked = [t for t, _ in Counter(
        t for d in docs for t in d).most_common()]
    words = [t for t in ranked[:400] if t.isalpha() and len(t) >= 3]
    filters = ["role:user", "role:assistant", "tool:bash", "tool:search"]

    def word():
        return rng.choice(words[:rng.choice((10, 60, len(words)))])

    def span(n_words):
        while True:
            d = docs[rng.randrange(len(docs))]
            if len(d) >= n_words:
                i = rng.randrange(len(d) - n_words + 1)
                return d[i:i + n_words]

    def extras(q):
        if rng.random() < 0.3:
            q += " " + word()
        if rng.random() < 0.25:
            q += " -" + word()
        if rng.random() < 0.2:
            q += " " + rng.choice(filters)
        return q

    out = []
    while len(out) < n:
        shape = rng.choice(["terms", "phrase", "pphrase", "prefix",
                            "fuzzy", "should", "union"])
        if shape == "terms":
            ws = [word() for _ in range(rng.randint(1, 3))]
            if rng.random() < 0.3:
                ws[0] += "^2"
            out.append((extras(" ".join(ws)), {}))
        elif shape == "phrase":
            q = '"' + " ".join(span(rng.randint(2, 3))) + '"'
            if rng.random() < 0.5:
                q += f"~{rng.randint(1, 2)}"
            out.append((extras(q), {}))
        elif shape == "pphrase":
            a, b = span(2)
            if len(b) >= 3:
                out.append((extras(f'"{a} {b[:rng.randint(2, len(b) - 1)]}"*'),
                            {}))
        elif shape == "prefix":
            w = word()
            out.append((extras(w[:rng.randint(3, len(w))] + "*"), {}))
        elif shape == "fuzzy":
            out.append((extras(word() + "~1"), {}))
        elif shape == "should":
            sq = (" ".join(word() for _ in range(rng.randint(1, 2)))
                  if rng.random() < 0.6
                  else '"' + " ".join(span(2)) + '"')
            out.append((extras(word()), {"should": sq}))
        else:
            ws = " ".join(word() for _ in range(rng.randint(2, 3)))
            if rng.random() < 0.3:
                ws += " -" + word()
            kw = {"occur": rng.choice(["should", "dismax"])}
            if kw["occur"] == "dismax":
                kw["tie_breaker"] = rng.choice([0.0, 0.3, 1.0])
            out.append((ws, kw))
    return out


def _hits(docs, scores):
    return (list(np.asarray(docs, dtype=np.int64).tolist()),
            np.asarray(scores, dtype=np.float32))


def _assert_same(got, want, what):
    assert got[0] == want[0], what
    np.testing.assert_array_equal(got[1], want[1], err_msg=what)


def test_path_parity_fuzz(reader, transcripts_small):
    queries = _fuzz_queries(transcripts_small["text"].tolist(), 40)
    batch = {f"q{i}": {"q": q, **({"should": kw["should"]}
                                  if "should" in kw else {})}
             for i, (q, kw) in enumerate(queries) if "occur" not in kw}
    many: dict = {}
    for r in reader.search_many(batch, k=K).collect():
        many.setdefault(r["query"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for i, (q, kw) in enumerate(queries):
        what = f"{q!r} {kw}"
        want = _hits(*reader.search_local(q, k=K, **kw))
        rows = reader.search(q, k=K, **kw).collect()
        _assert_same(_hits([r["doc_id"] for r in rows],
                           [r["score"] for r in rows]),
                     want, "search " + what)
        counts = []
        for local in (True, False):
            d, s, c = reader.search_with_count(q, k=K, local=local, **kw)
            _assert_same(_hits(d, s), want,
                         f"search_with_count(local={local}) {what}")
            assert c.exact, what
            counts.append(c.value)
        assert counts[0] == counts[1], what
        if "occur" not in kw:
            assert reader.count(q) == counts[0], what
            got = sorted(many.get(f"q{i}", []))
            _assert_same(_hits([g[1] for g in got], [g[2] for g in got]),
                         want, "search_many " + what)
        if not kw:
            for local in (True, False):
                _assert_same(
                    _hits(*reader.search_collect(q, k=K, local=local)),
                    want, f"search_collect(local={local}) {what}")


def test_routed_requests_look_up_terms_once(reader, monkeypatch):
    """The auto-routers plan once and hand the plan to the executor they
    pick, so a routed request reads the term dictionary once."""
    calls = []
    orig = type(reader).term_dfs

    def counting(self, terms):
        calls.append(list(terms))
        return orig(self, terms)

    monkeypatch.setattr(type(reader), "term_dfs", counting)
    for local in (None, False):
        for q in ('"test website"', "example website -test"):
            calls.clear()
            reader.search_with_count(q, k=5, local=local)
            assert len(calls) == 1, (q, local)
            calls.clear()
            reader.search_collect(q, k=5, local=local)
            assert len(calls) == 1, (q, local)
    calls.clear()
    reader.count("example website -test")
    assert len(calls) == 1
