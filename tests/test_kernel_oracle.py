"""Rank-identity of the numpy query kernel vs the brute-force oracle,
plus WAND-vs-exhaustive property tests (pattern copied from the
reference: crates/tantivy/src/query/boolean_query/block_wand.rs:301-623).
No Spark involved — this pins the kernel math."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cuely_spark.bm25 import Bm25Weight
from cuely_spark.indexer.segment import build_segment_rows
from cuely_spark.oracle import OracleIndex
from cuely_spark.queryengine.kernel import (
    TermPostings,
    count_matches,
    segment_topk,
    single_term_topk,
)
from cuely_spark.queryengine.parser import parse_query

from conftest import QUERY_SET


def _tp_from_rows(p: pd.DataFrame, term: str) -> TermPostings:
    g = p[p["term"] == term].sort_values("block_id")
    return TermPostings(
        g["first_doc"].to_numpy(), g["last_doc"].to_numpy(),
        g["ndocs"].to_numpy(), list(g["docs"]), list(g["tfs"]),
        list(g["fnids"]), positions=list(g["positions"]),
        block_max_tf=g["block_max_tf"].to_numpy(),
        block_min_fnid=g["block_min_fnid"].to_numpy(),
    )


@pytest.fixture(scope="module")
def built(transcripts_small):
    rows = build_segment_rows(
        transcripts_small["expected_doc_id"].to_numpy(),
        transcripts_small["text"].tolist(), segment_id=0)
    return rows[rows["kind"] == "p"]


def _run_query(p, oracle, q, k):
    pq = parse_query(q)
    weights = {}
    for t in pq.all_terms():
        weights[t] = Bm25Weight(oracle.df(t), oracle.num_docs,
                                oracle.avg_fieldnorm)
    specs = []
    for c in pq.positive:
        if c.kind == "term":
            specs.append(("term", _tp_from_rows(p, c.tokens[0]),
                          weights[c.tokens[0]]))
        else:
            w = Bm25Weight(1, oracle.num_docs, oracle.avg_fieldnorm)
            s = np.float32(0.0)
            for t in c.tokens:
                s = np.float32(s + weights[t].weight)
            w.weight = s
            specs.append(("phrase", [_tp_from_rows(p, t) for t in c.tokens], w))
    negs = [[_tp_from_rows(p, t) for t in c.tokens] for c in pq.negative]
    return segment_topk(specs, negs, k), count_matches(specs, negs)


@pytest.mark.parametrize("q", QUERY_SET)
@pytest.mark.parametrize("k", [10, 20])
def test_rank_identity(built, oracle_small, q, k):
    (docs, scores), n = _run_query(built, oracle_small, q, k)
    odocs, oscores = oracle_small.search(q, k=k)
    assert docs.tolist() == odocs.tolist(), f"rank mismatch for {q!r}"
    np.testing.assert_allclose(scores, oscores, rtol=1e-6)
    assert n == oracle_small.count(q)


def test_absent_term(built, oracle_small):
    (docs, _), n = _run_query(built, oracle_small, "website zzzqqq", 10)
    # absent term -> TermPostings with 0 blocks -> empty conjunction
    assert docs.size == 0 and n == 0


# ---------------------------------------------------------------------------
# WAND property test: pruned top-k == exhaustive top-k on random postings
# ---------------------------------------------------------------------------

@st.composite
def random_postings(draw):
    n_docs = draw(st.integers(min_value=1, max_value=2000))
    df = draw(st.integers(min_value=1, max_value=n_docs))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, size=df).astype(np.int64)
    fnids = rng.integers(0, 256, size=df).astype(np.int64)
    return docs, tfs, fnids, n_docs


def _make_tp(docs, tfs, fnids, cls=TermPostings):
    from cuely_spark.codec import encode_docs, encode_tfs

    blocks = []
    for s in range(0, docs.size, 128):
        d, t, f = docs[s:s + 128], tfs[s:s + 128], fnids[s:s + 128]
        blocks.append((
            d[0], d[-1], d.size, encode_docs(d), encode_tfs(t),
            f.astype(np.uint8).tobytes(), int(t.max()), int(f.min())))
    b = list(zip(*blocks))
    return cls(b[0], b[1], b[2], b[3], b[4], b[5],
               block_max_tf=b[6], block_min_fnid=b[7])


@given(random_postings(), st.integers(min_value=1, max_value=40))
@settings(max_examples=150, deadline=None)
def test_wand_equals_bruteforce(postings, k):
    docs, tfs, fnids, n_docs = postings
    w = Bm25Weight(docs.size, n_docs, 17.3)
    tp = _make_tp(docs, tfs, fnids)
    got_d, got_s = single_term_topk(tp, w, k)
    # brute force
    scores = w.score(fnids, tfs)
    order = np.lexsort((docs, -scores))[:k]
    exp_d, exp_s = docs[order], scores[order]
    assert got_d.tolist() == exp_d.tolist()
    np.testing.assert_array_equal(got_s, exp_s)



class _CountingPostings(TermPostings):
    """TermPostings that counts the blocks it decodes."""

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.decoded = 0

    def decode_blocks(self, blocks):
        self.decoded += len(blocks)
        return super().decode_blocks(blocks)


def _fixed32_topk(tp, weight, k):
    """single_term_topk with a fixed 32-block chunk: the reference
    schedule the adaptive one must never out-decode."""
    ub = weight.score(tp.block_min_fnid, tp.block_max_tf)
    order = np.argsort(-ub, kind="stable")
    best_docs = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=weight.dtype)
    threshold = -np.inf
    for i in range(0, order.size, 32):
        blocks = order[i:i + 32]
        if best_docs.size >= k and float(ub[blocks[0]]) < threshold:
            break
        blocks = blocks[(ub[blocks] >= threshold) | (best_docs.size < k)]
        if blocks.size == 0:
            continue
        docs, tfs, fnids, _ = tp.decode_blocks(np.sort(blocks))
        scores = weight.score(fnids, tfs)
        order_k = np.lexsort((np.concatenate([best_docs, docs]),
                              -np.concatenate([best_scores, scores])))[:k]
        best_docs = np.concatenate([best_docs, docs])[order_k]
        best_scores = np.concatenate([best_scores, scores])[order_k]
        if best_docs.size >= k:
            threshold = float(best_scores[-1])
    return best_docs, best_scores


def test_topk_filling_mid_chunk_decodes_no_more_than_fixed_chunks():
    """k fills inside the second 32-block chunk of a list whose block
    bounds fall strictly: the chunk must not double while the top-k is
    still filling, or the blocks the threshold would prune get decoded
    (32 + 64 blocks instead of 32 + 32)."""
    nblocks, k = 120, 32 * 128 + 64
    docs = np.arange(nblocks * 128, dtype=np.int64)
    tfs = np.repeat(np.arange(nblocks + 1, 1, -1), 128).astype(np.int64)
    fnids = np.full(docs.size, 10, dtype=np.int64)
    w = Bm25Weight(docs.size, docs.size, 17.3)
    tp = _make_tp(docs, tfs, fnids, cls=_CountingPostings)
    ref = _make_tp(docs, tfs, fnids, cls=_CountingPostings)
    got_d, got_s = single_term_topk(tp, w, k)
    exp_d, exp_s = _fixed32_topk(ref, w, k)
    assert got_d.tolist() == exp_d.tolist()
    np.testing.assert_array_equal(got_s, exp_s)
    assert ref.decoded == 64
    assert tp.decoded <= ref.decoded


@st.composite
def or_group_postings(draw):
    """Random must clauses where some are or-groups of 1-3 members."""
    n_docs = draw(st.integers(min_value=50, max_value=2000))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    n_clauses = draw(st.integers(min_value=1, max_value=3))
    clauses = []
    for _ in range(n_clauses):
        n_members = draw(st.integers(min_value=1, max_value=3))
        members = []
        for _ in range(n_members):
            df = int(rng.integers(1, n_docs + 1))
            docs = np.sort(rng.choice(n_docs, size=df, replace=False)
                           ).astype(np.int64)
            tfs = rng.integers(1, 20, size=df).astype(np.int64)
            fnids = rng.integers(0, 256, size=df).astype(np.int64)
            members.append((docs, tfs, fnids))
        clauses.append(members)
    return clauses, n_docs


@given(or_group_postings(), st.integers(min_value=1, max_value=25))
@settings(max_examples=120, deadline=None)
def test_or_group_conjunction_equals_bruteforce(postings, k):
    """AND over or-groups: membership = every group matched by >=1
    member; score = sum of ALL matching members' BM25 (f32, clause then
    member order) — checked against a brute-force model."""
    clauses, n_docs = postings
    specs = []
    weighted = []
    for members in clauses:
        ms = []
        for docs, tfs, fnids in members:
            w = Bm25Weight(docs.size, n_docs, 15.0)
            ms.append((_make_tp(docs, tfs, fnids), w))
            weighted.append((docs, tfs, fnids, w))
        if len(ms) == 1 and len(clauses) > 1:
            specs.append(("term", ms[0][0], ms[0][1]))
        else:
            specs.append(("or", ms, None))
    got_d, got_s = segment_topk(specs, [], k=k)

    # brute force
    f32 = np.float32
    member_score: list[dict[int, float]] = []
    for docs, tfs, fnids, w in weighted:
        member_score.append(dict(zip(docs.tolist(), w.score(fnids, tfs))))
    idx = 0
    group_maps = []
    for members in clauses:
        group_maps.append(member_score[idx:idx + len(members)])
        idx += len(members)
    cand = None
    for gm in group_maps:
        docs_in = set().union(*[set(m) for m in gm])
        cand = docs_in if cand is None else cand & docs_in
    scores = {}
    for d in cand:
        s = f32(0.0)
        for gm in group_maps:
            for m in gm:
                if d in m:
                    s = f32(s + m[d])
        scores[d] = s
    exp = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    assert got_d.tolist() == [d for d, _ in exp]
    np.testing.assert_array_equal(
        got_s, np.array([s for _, s in exp], dtype=f32))
