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
    `"a b"*`, `word*`, `word~1`, termsets `a|b`, attribute filters,
    `ts:` ranges, `tool:*` / `-tool:*` exists filters, `should=` and
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
    days = [f"2024-01-{d:02d}" for d in range(1, 12)]  # the corpus's ts

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
        if rng.random() < 0.15:
            q += " " + rng.choice(["tool:*", "-tool:*"])
        if rng.random() < 0.15:
            a, b = sorted(rng.sample(days, 2))
            q += " " + rng.choice([f"ts:>={a}", f"ts:<{b}",
                                   f"ts:{a}..{b}"])
        return q

    out = []
    while len(out) < n:
        shape = rng.choice(["terms", "phrase", "pphrase", "prefix",
                            "fuzzy", "termset", "should", "union"])
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
        elif shape == "termset":
            ws = "|".join(word() for _ in range(rng.randint(2, 3)))
            out.append((extras(ws), {}))
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
    queries = _fuzz_queries(transcripts_small["text"].tolist(), 48)
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


def check_optic_end_anchor_plan(r, texts, q="the"):
    """A plan whose optic needs doclens (`plan.doc_stats` set) runs
    through search_local's single pass and matches search(optic=)."""
    from collections import Counter

    from cuely_spark.queryengine.optic import Rule
    from cuely_spark.tokenizer import tokenize

    last = Counter(t[-1] for t in map(tokenize, texts) if t).most_common(2)
    rules = [Rule(pattern=f"{last[0][0]} |", action="boost", factor=2.0),
             Rule(pattern=f"{last[1][0]} |", action="discard")]
    plan = r._plan(q, optic=rules)
    assert plan.doc_stats is r._doc_table
    want = _hits(*r.search_local(plan, k=50))
    rows = r.search(q, k=50, optic=rules).collect()
    _assert_same(_hits([x["doc_id"] for x in rows],
                       [x["score"] for x in rows]), want, r.path)
    assert want[0] != _hits(*r.search_local(q, k=50))[0]


def check_row_store_parity(r, q, filters, col, sim=False):
    """Every route reads an index's row store as Spark's own read of it
    does. `q` is a conjunctive text query, `filters` range and exists
    clauses, `col` a row-store column:

    - `q filters` gives the same (doc_id, score) and count on
      search_local, search and search_with_count(local=False), explain
      gives each hit's score, and its hits are the hits of `q` that the
      Spark match-all route keeps under `filters`;
    - facet_counts of `q filters` by `col` counts its hits' values in
      the Spark row store (`turns_df`);
    - search_diverse of `q` with a prohibitive penalty on `col` keeps
      raw scores and picks a new value while one is left; with `sim`,
      the de_rank_similar order is the picks (no two within hamming 3)
      then the deferred near-duplicates of a pick."""
    from collections import Counter

    from pyspark.sql import functions as F

    fq = f"{q} {filters}"
    assert r._plan(fq).rows[0] is r._turns_table
    n = r.num_docs
    want = _hits(*r.search_local(fq, k=n))
    assert want[0], fq
    rows = r.search(fq, k=n).collect()
    _assert_same(_hits([x["doc_id"] for x in rows],
                       [x["score"] for x in rows]), want, "search " + fq)
    d, s, c = r.search_with_count(fq, k=n, local=False)
    _assert_same(_hits(d, s), want, "search_with_count " + fq)
    assert c.value == len(want[0]), fq
    for doc, score in list(zip(*want))[:3]:
        assert r.explain(fq, doc).value == float(score), (fq, doc)
    plain = dict(zip(*_hits(*r.search_local(q, k=n))))
    keep = set(r.search_collect("* " + filters, k=n, local=False)[0]
               .tolist())
    assert set(want[0]) == set(plain) & keep, fq
    assert [plain[x] for x in want[0]] == want[1].tolist(), fq

    cols = [col] + (["simhash"] if sim else [])
    vals = {x["doc_id"]: x for x in r.turns_df
            .filter(F.col("doc_id").isin(list(plain)))
            .select("doc_id", *cols).collect()}
    facets = {x["value"]: x["count"] for x in
              r.facet_counts(fq, col, k=n).collect()}
    assert facets == Counter(str(vals[x][col]) for x in want[0]
                             if vals[x][col] is not None), fq

    def bucket(x):
        v = vals[x][col]
        return "" if v is None else str(v)

    d, s = r.search_diverse(q, k=K, penalties={col: 1000.0},
                            de_rank_similar=False)
    assert d.size == min(K, len(plain))
    assert s.tolist() == [plain[x] for x in d.tolist()], q
    m = min(K, len({bucket(x) for x in plain}))
    assert len({bucket(x) for x in d[:m].tolist()}) == m, q
    if sim:
        d, s = r.search_diverse(q, k=K, penalties={col: 0.5})
        assert s.tolist() == [plain[x] for x in d.tolist()], q
        sims = [vals[x]["simhash"] for x in d.tolist()]

        def near(i, among):
            return sims[i] != 0 and any(
                sims[j] != 0 and bin(sims[i] ^ sims[j]).count("1") <= 3
                for j in among)

        m = next((i for i in range(len(sims)) if near(i, range(i))),
                 len(sims))
        assert all(near(i, range(m)) for i in range(m, len(sims))), q


def test_row_store_parity_offsets_mode(reader):
    for filters in ("ts:2024-01-02..2024-01-08 tool:*",
                    "ts:>=2024-01-03 -tool:*"):
        check_row_store_parity(reader, "the test", filters, "conv_id")


def test_local_optic_end_anchor_plan(reader, transcripts_small):
    check_optic_end_anchor_plan(reader, transcripts_small["text"])
