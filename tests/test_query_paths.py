"""Both query execution paths (single-task coordinator vs per-segment
fanout) must return identical, oracle-identical results."""

import numpy as np
import pytest

from conftest import QUERY_SET


@pytest.fixture(scope="module")
def reader(spark, transcripts_small, tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    df = spark.createDataFrame(
        transcripts_small.drop(columns=["expected_doc_id"]))
    out = str(tmp_path_factory.mktemp("idx_paths"))
    build_index(spark, df, out, rows_per_segment=1200)
    return IndexReader(spark, out)


@pytest.fixture(scope="module")
def live_reader(spark, transcripts_small, tmp_path_factory):
    """A live index: three committed batches, one segment each."""
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.streaming import LiveIndexWriter

    pdf = transcripts_small.drop(columns=["expected_doc_id"]).head(1500)
    root = str(tmp_path_factory.mktemp("idx_live"))
    w = LiveIndexWriter(spark, root)
    for i in range(3):
        w.process_batch(spark.createDataFrame(pdf.iloc[i * 500:
                                                       (i + 1) * 500]), i)
    return IndexReader(spark, root)


def _both_shapes(reader, fn):
    """fn() on one task holding every segment, then on one task per
    segment group."""
    try:
        reader.small_query_blocks = 10**9
        single = fn()
        reader.small_query_blocks = 0
        return single, fn()
    finally:
        reader.small_query_blocks = type(reader).small_query_blocks


_FANOUT_QUERIES = ["test", "example website", '"test website"', "the",
                   "website -test"]


@pytest.mark.parametrize("q", _FANOUT_QUERIES)
def test_fanout_path_matches_single_task(reader, oracle_small, q):
    (d1, s1), (d2, s2) = _both_shapes(
        reader, lambda: reader.search_collect(q, k=20, local=False))
    assert d1.tolist() == d2.tolist()
    np.testing.assert_array_equal(s1, s2)
    od, _ = oracle_small.search(q, k=20)
    assert d1.tolist() == od.tolist()


@pytest.mark.parametrize("kind", ["live", "merged"])
@pytest.mark.parametrize("q", _FANOUT_QUERIES)
def test_fanout_path_matches_single_task_live_and_merged(
        spark, live_reader, merged, oracle_small, kind, q):
    """The two task shapes agree on a live (one segment per batch) and
    a merged index too, and both agree with the driver-local path; the
    merged index keeps the bulk ids, so it also matches the oracle."""
    from cuely_spark.queryengine import IndexReader

    r = live_reader if kind == "live" else IndexReader(spark, merged[1])
    (d1, s1), (d2, s2) = _both_shapes(
        r, lambda: r.search_collect(q, k=20, local=False))
    assert d1.tolist() == d2.tolist()
    np.testing.assert_array_equal(s1, s2)
    dl, sl = r.search_collect(q, k=20, local=True)
    assert d1.tolist() == dl.tolist()
    np.testing.assert_array_equal(s1, sl)
    if kind == "merged":
        assert d1.tolist() == oracle_small.search(q, k=20)[0].tolist()


@pytest.mark.parametrize("kind", ["bulk", "live", "merged"])
def test_capped_count_matches_across_shapes(spark, reader, live_reader,
                                            merged, kind):
    """search_with_count under a per-segment cap gives the same hits
    and the same (approximate) count from both task shapes."""
    from cuely_spark.queryengine import IndexReader

    r = {"bulk": reader, "live": live_reader}.get(kind) or IndexReader(
        spark, merged[1])
    for q in ("the", "the test", "example website -test"):
        (d1, s1, c1), (d2, s2, c2) = _both_shapes(
            r, lambda: r.search_with_count(q, k=20,
                                           max_docs_per_segment=50))
        assert d1.tolist() == d2.tolist(), q
        np.testing.assert_array_equal(s1, s2)
        assert c1 == c2, q
        if q == "the":  # every segment holds more than 50 matches
            assert not c1.exact


def test_fanout_plan_reads_no_posting_scan(reader):
    """A fan-out query is one task per segment group over a range: its
    executed plan has no exchange and no scan of the posting files."""
    files, segs = reader._snapshot()
    (_, one), (_, ctx) = _both_shapes(
        reader, lambda: reader._posting_tasks(["test"], False, 1))
    assert one.groups == (segs,)
    n = min(len(segs), reader.spark.sparkContext.defaultParallelism)
    assert len(segs) > 1 and len(ctx.groups) == n
    assert sorted(s for g in ctx.groups for s in g) == list(segs)
    assert ctx.files == files
    try:
        reader.small_query_blocks = 0
        df = reader.search("example website", k=20, _count_rows=True)
        top = reader.search("example website", k=20)
    finally:
        reader.small_query_blocks = type(reader).small_query_blocks
    for d in (df, top):
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "FileScan" not in plan and "kind=p" not in plan, plan
    assert df.rdd.getNumPartitions() == n


def test_mixed_must_should_kernel():
    """segment_topk with should_specs: must gates membership, should adds
    score only where it matches — checked against a brute-force model."""
    import numpy as np

    from cuely_spark.bm25 import Bm25Weight
    from cuely_spark.queryengine.kernel import segment_topk
    from test_kernel_oracle import _make_tp

    rng = np.random.default_rng(5)
    n_docs = 3000
    def mk(df):
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)
                       ).astype(np.int64)
        return (docs, rng.integers(1, 9, size=df).astype(np.int64),
                rng.integers(0, 200, size=df).astype(np.int64))
    must = mk(800)
    sh1, sh2 = mk(500), mk(30)
    wm = Bm25Weight(must[0].size, n_docs, 12.0)
    w1 = Bm25Weight(sh1[0].size, n_docs, 12.0)
    w2 = Bm25Weight(sh2[0].size, n_docs, 12.0)
    got_d, got_s = segment_topk(
        [("term", _make_tp(*must), wm)], [], k=50,
        should_specs=[("term", _make_tp(*sh1), w1),
                      ("term", _make_tp(*sh2), w2)])
    # brute force
    f32 = np.float32
    scores = {}
    md, mt, mf = must
    base = wm.score(mf, mt)
    for d, s in zip(md.tolist(), base):
        scores[d] = f32(s)
    for (sd, st, sf), w in ((sh1, w1), (sh2, w2)):
        per = w.score(sf, st)
        for d, s in zip(sd.tolist(), per):
            if d in scores:  # should never creates membership
                scores[d] = f32(scores[d] + s)
    exp = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:50]
    assert got_d.tolist() == [d for d, _ in exp]
    np.testing.assert_array_equal(
        got_s, np.array([s for _, s in exp], dtype=f32))


def test_search_offset_pagination(reader):
    """offset=o page equals rows [o:o+k] of the full ranking."""
    import numpy as np

    full = reader.search("the test", k=30, dtype=np.float64).collect()
    page = reader.search("the test", k=10, dtype=np.float64,
                         offset=10).collect()
    assert [(r["doc_id"], r["score"]) for r in page] == \
        [(r["doc_id"], r["score"]) for r in full[10:20]]


def test_compound_word_recall(spark, tmp_path_factory):
    """'new york' must find a doc whose only token is 'newyork' via the
    bigram shadow field (the reference compound-word e2e case,
    crates/core/src/query/mod.rs compound tests)."""
    import numpy as np

    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    rows = [(0, "i love new york in the summer"),
            (1, "newyork"),
            (2, "york is a city in england"),
            (3, "new products launched today"),
            (4, "totally unrelated text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("ngram_idx"))
    build_index(spark, df, out, doc_id_col="doc_id", ngram_max=3)
    r = IndexReader(spark, out)
    docs, scores = r.search_collect("new york", k=10, dtype=np.float64)
    # doc 0 matches plainly (+compound boost); doc 1 ONLY via compound
    assert set(docs.tolist()) == {0, 1}
    # without augmentation doc 1 is unreachable
    d2 = r.search("new york", k=10, dtype=np.float64,
                  compound_terms=False).collect()
    assert {row["doc_id"] for row in d2} == {0}


def test_stemmed_recall_and_scores(spark, tmp_path_factory):
    """stem=True index: 'running' matches docs containing run/runs/ran?
    (no - only same-stem forms), with score = exact-term BM25 + stemmed
    shadow BM25, verified against a brute-force model using the same
    Porter stemmer."""
    import numpy as np

    from cuely_spark.bm25 import Bm25Weight
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.stemmer import porter_stem
    from cuely_spark.tokenizer import tokenize

    rows = [(0, "running in the park"),
            (1, "i run every day"),
            (2, "he runs marathons"),
            (3, "a ran b"),              # 'ran' stems to 'ran' != 'run'
            (4, "nothing relevant here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("stem_idx"))
    build_index(spark, df, out, doc_id_col="doc_id", stem=True)
    r = IndexReader(spark, out)
    got = {row["doc_id"]: row["score"] for row in
           r.search("running", k=10, dtype=np.float64).collect()}
    # membership: exact 'running' (doc 0) + same-stem docs (1: run,
    # 2: runs->run); 'ran' does NOT stem to 'run' in Porter
    assert set(got) == {0, 1, 2}

    # brute-force score model (f64): per doc, sum over the two members
    texts = {i: t for i, t in rows}
    n_docs = len(rows)
    doclens = {i: len(tokenize(t)) for i, t in rows}
    avg = sum(doclens.values()) / n_docs
    from cuely_spark.fieldnorm import FIELD_NORMS_TABLE, fieldnorm_to_id

    def members_of(doc):
        toks = tokenize(texts[doc])
        out_ = {"running": toks.count("running")}
        out_["s:run"] = sum(1 for t in toks if porter_stem(t) == "run")
        return out_

    df_exact = sum(1 for t in texts.values() if "running" in tokenize(t))
    df_stem = sum(1 for t in texts.values()
                  if any(porter_stem(x) == "run" for x in tokenize(t)))
    exp = {}
    for doc in range(n_docs):
        tfs = members_of(doc)
        fn = float(FIELD_NORMS_TABLE[fieldnorm_to_id(
            np.array([doclens[doc]]))[0]])
        s = 0.0
        for term, dfv in (("running", df_exact), ("s:run", df_stem)):
            tf = tfs[term]
            if tf == 0:
                continue
            w = Bm25Weight(dfv, n_docs, avg, dtype=np.float64)
            s += float(w.score(
                np.array([fieldnorm_to_id(np.array([doclens[doc]]))[0]]),
                np.array([tf]))[0])
        if s > 0:
            exp[doc] = s
    assert set(exp) == set(got)
    for d in got:
        np.testing.assert_allclose(got[d], exp[d], rtol=1e-9)
    # opt-out restores exact-only matching
    off = r.search("running", k=10, dtype=np.float64,
                   stemmed=False).collect()
    assert {row["doc_id"] for row in off} == {0}


def test_score_sorted_index_shortcircuit(spark, tmp_path_factory):
    """Index sort by a precomputed score: with a ShortCircuit cap, the
    candidates inspected first (lowest doc ids) are the BEST documents,
    so the cap returns the top-quality matches instead of arbitrary
    low-id ones (reference: PreComputedScore-sorted segments)."""
    import numpy as np

    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    rng = np.random.default_rng(9)
    quality = rng.permutation(100)
    rows = [(int(i), f"common filler w{i % 7}", int(quality[i]))
            for i in range(100)]
    df = spark.createDataFrame(rows, "orig_id long, text string, q long")
    out = str(tmp_path_factory.mktemp("sorted_idx"))
    build_index(spark, df, out, order_cols=("orig_id",), score_col="q",
                rows_per_segment=1000)
    r = IndexReader(spark, out)
    res = r.search("common", k=100, dtype=np.float64,
                   max_docs_per_segment=10, with_meta=True).collect()
    got_orig = {row["orig_id"] for row in res}
    # every doc matches "common"; the cap must have inspected exactly
    # the 10 highest-q docs (= internal ids 0..9)
    top_q = set(np.argsort(-quality, kind="stable")[:10].tolist())
    assert got_orig == top_q


def test_count_consistent_with_search_on_augmented_index(
        spark, tmp_path_factory):
    """count(q) equals the number of rows search(q, k=all) returns on
    ngram and stemmed indexes (augmentation applied consistently)."""
    import numpy as np

    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    rows = [(0, "i love new york in the summer"),
            (1, "newyork"),
            (2, "york is a city in england"),
            (3, "running shoes for sale"),
            (4, "he runs daily"),
            (5, "unrelated words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("aug_idx"))
    build_index(spark, df, out, doc_id_col="doc_id", ngram_max=3,
                stem=True)
    r = IndexReader(spark, out)
    for q in ["new york", "running", "york"]:
        n_search = r.search(q, k=r.num_docs, dtype=np.float64).count()
        assert r.count(q) == n_search, q
    # explicit opt-out stays consistent too
    n_plain = r.search("new york", k=r.num_docs, dtype=np.float64,
                       compound_terms=False, stemmed=False).count()
    assert r.count("new york", compound_terms=False,
                   stemmed=False) == n_plain


def test_optic_rules_validation_and_boost(spark, tmp_path):
    """Optic rules: boost/downrank multiplier semantics
    (computer/mod.rs:471-497) and matcher validation."""
    import numpy as np
    import pytest

    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.queryengine.optic import Rule, compile_rules

    with pytest.raises(ValueError):
        Rule('"a phrase"', "boost", 2.0).parsed()
    with pytest.raises(ValueError):
        Rule("-negated", "boost", 2.0).parsed()
    with pytest.raises(ValueError):
        compile_rules([Rule("x", "explode", 1.0)])

    rows = [(0, "alpha beta", "u"), (1, "alpha beta", "v"),
            (2, "alpha beta gamma", "u"), (3, "alpha only", "v")]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, role string")
    out = str(tmp_path / "optic_idx")
    build_index(spark, df, out, text_col="text", doc_id_col="doc_id",
                rows_per_segment=10, num_jobs=1, attr_cols=("role",))
    r = IndexReader(spark, out)
    rules = [Rule("role:u", "boost", 1.0),        # docs 0, 2
             Rule("gamma", "downrank", 3.0),      # doc 2
             Rule("role:v beta", "discard")]      # doc 1 (both match)
    res = {row["doc_id"]: row["score"]
           for row in r.search("alpha", k=10, dtype=np.float64,
                               optic=rules).collect()}
    base = {row["doc_id"]: row["score"]
            for row in r.search("alpha", k=10,
                                dtype=np.float64).collect()}
    assert set(res) == {0, 2, 3}                  # doc 1 discarded
    assert res[0] == base[0] * 2.0                # boost 1 -> x2
    assert res[3] == base[3]                      # no rule matches
    assert res[2] == base[2] / 3.0                # down 3 > boost 1 -> 1/(1+2)


def test_compound_single_token_window_kept():
    """A window shrunk to one simple token by a non-simple neighbor
    still emits its compound (reference keeps !compounds.is_empty():
    b:<term> is the ngram short-doc shadow, plan/mod.rs:223-300)."""
    from cuely_spark.queryengine.parser import (
        compound_alternatives,
        parse_query,
    )

    alts = compound_alternatives(parse_query('merge "a b" table'), 2)
    assert "b:merge" in alts[0]          # window crossed the phrase
    assert "b:table" in alts[2]
    # pure simple-term queries are unchanged: multi-token windows only
    alts2 = compound_alternatives(parse_query("scan merge table"), 2)
    assert all(not a.endswith(":scan") for a in alts2.get(0, []))
    assert "b:scanmerge" in alts2[0]


def test_optic_discard_non_matching(spark, tmp_path):
    """Optic(discard_non_matching=True): results must match at least one
    non-discard rule (optic.rs:56-70 Must-union semantics)."""
    import numpy as np
    import pytest

    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.queryengine.optic import Optic, Rule

    rows = [(0, "alpha beta", "u"), (1, "alpha beta", "v"),
            (2, "alpha gamma", "w"), (3, "alpha only", "v")]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, role string")
    out = str(tmp_path / "optic_dnm_idx")
    build_index(spark, df, out, text_col="text", doc_id_col="doc_id",
                rows_per_segment=10, num_jobs=1, attr_cols=("role",))
    r = IndexReader(spark, out)
    o = Optic(rules=(Rule("role:u", "boost", 1.0),
                     Rule("gamma", "downrank", 3.0)),
              discard_non_matching=True)
    got = {row["doc_id"] for row in
           r.search("alpha", k=10, dtype=np.float64, optic=o).collect()}
    assert got == {0, 2}  # 1/3 match no rule -> dropped
    with pytest.raises(ValueError):
        r.search("alpha", optic=Optic(
            rules=(Rule("role:v", "discard"),),
            discard_non_matching=True))


def test_optic_rules_in_batch_specs(spark, tmp_path):
    """search_many spec 'optic' matches search(optic=) exactly,
    mixable with unruled queries in the same batch."""
    import numpy as np

    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.queryengine.optic import Optic, Rule

    rows = [(0, "alpha beta", "u"), (1, "alpha beta", "v"),
            (2, "alpha beta gamma", "u"), (3, "alpha only", "v")]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, role string")
    out = str(tmp_path / "optic_batch_idx")
    build_index(spark, df, out, text_col="text", doc_id_col="doc_id",
                rows_per_segment=10, num_jobs=1, attr_cols=("role",))
    r = IndexReader(spark, out)
    rules = [Rule("role:u", "boost", 1.0),
             Rule("gamma", "downrank", 3.0),
             Rule("role:v beta", "discard")]
    o = Optic(rules=tuple(rules[:2]), discard_non_matching=True)
    res = r.search_many({
        "ruled": {"q": "alpha", "optic": rules},
        "dnm": {"q": "alpha", "optic": o},
        "plain": "alpha",
    }, k=10, dtype=np.float64).collect()
    by_q = {}
    for row in res:
        by_q.setdefault(row["query"], []).append(
            (row["rank"], row["doc_id"], row["score"]))
    single_ruled = r.search("alpha", k=10, dtype=np.float64,
                            optic=rules).collect()
    single_dnm = r.search("alpha", k=10, dtype=np.float64,
                          optic=o).collect()
    single_plain = r.search("alpha", k=10, dtype=np.float64).collect()
    for name, single in [("ruled", single_ruled), ("dnm", single_dnm),
                         ("plain", single_plain)]:
        exp = [(i + 1, row["doc_id"], row["score"])
               for i, row in enumerate(single)]
        assert sorted(by_q[name]) == exp, name


def test_stemmer_version_routing(spark, tmp_path_factory):
    """stats.json records which English stemmer built the 's:' shadows;
    the query side stems with the SAME algorithm (Porter vs Porter2
    diverge: fairly -> fairli vs fair), and a version-less stemmed
    index warns instead of silently losing recall."""
    import json
    import os
    import warnings

    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.queryengine.parser import parse_query

    rows = [(0, "fairly good"), (1, "fair play")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("stem_ver"))
    build_index(spark, df, out, doc_id_col="doc_id", stem=True)
    r = IndexReader(spark, out)
    assert r.stats["stemmer_version"] == "porter2"
    comp, _ = r._plan_alternatives(parse_query("fairly"))
    assert "s:fair" in comp[0]  # porter2 query stem

    sp = os.path.join(out, "stats.json")
    st = json.load(open(sp))
    st["stemmer_version"] = "porter"
    json.dump(st, open(sp, "w"))
    r = IndexReader(spark, out)
    comp, _ = r._plan_alternatives(parse_query("fairly"))
    assert "s:fairli" in comp[0]  # routed to classic porter

    del st["stemmer_version"]
    json.dump(st, open(sp, "w"))
    r = IndexReader(spark, out)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        r._plan_alternatives(parse_query("fairly"))
    assert any("stemmer_version" in str(x.message) for x in w)
