"""Per-segment query kernel: pure numpy, Spark-free (unit-testable).

This is the analog of tantivy's per-segment scorer stack:

- single-term top-k with **block-max pruning**: blocks are visited in
  descending score-upper-bound order and decoding stops as soon as the
  next bound cannot beat the current k-th score (reference:
  crates/tantivy/src/query/boolean_query/block_wand.rs:222-261, the
  single-scorer block-WAND variant).
- conjunctive AND via **block-range leapfrog**: the rarest clause drives;
  other terms decode only blocks whose [first_doc, last_doc] ranges can
  overlap surviving candidates (skip-list semantics, reference:
  crates/tantivy/src/postings/skip.rs:119-171 + query/intersection.rs).
- phrase verification via sorted position-list intersection with +1
  offsets (reference: crates/tantivy/src/query/phrase_query/
  phrase_scorer.rs:46-120); overlapping matches counted, match count is
  the phrase tf.
- MustNot via decoded-doc exclusion (reference: query/exclude.rs).
- scores accumulate in float32 in query-clause order with docID-ascending
  tiebreak (collector contract, SURVEY §4.2).

Posting blocks are self-contained (docs delta-varbyte base -1, tfs
minus-one varbyte, fnids raw u8, positions delta-restart varbyte), so any
subset of blocks can be decoded independently — that is what makes
skipping cheap.
"""

from __future__ import annotations

import numpy as np

from ..bm25 import Bm25Weight
from ..codec import decode_docs, decode_positions, decode_tfs, varbyte_decode


class TermPostings:
    """All posting blocks of one term within one segment."""

    __slots__ = ("first_doc", "last_doc", "ndocs", "docs", "tfs", "fnids",
                 "positions", "block_max_tf", "block_min_fnid", "_cache")

    def __init__(self, first_doc, last_doc, ndocs, docs, tfs, fnids,
                 positions=None, block_max_tf=None, block_min_fnid=None):
        self.first_doc = np.asarray(first_doc, dtype=np.int64)
        self.last_doc = np.asarray(last_doc, dtype=np.int64)
        self.ndocs = np.asarray(ndocs, dtype=np.int64)
        self.docs = list(docs)
        self.tfs = list(tfs)
        self.fnids = list(fnids)
        self.positions = list(positions) if positions is not None else None
        self.block_max_tf = (np.asarray(block_max_tf, dtype=np.int64)
                             if block_max_tf is not None else None)
        self.block_min_fnid = (np.asarray(block_min_fnid, dtype=np.int64)
                               if block_min_fnid is not None else None)
        self._cache: dict[int, tuple] = {}

    @property
    def nblocks(self) -> int:
        return len(self.docs)

    @property
    def doc_count(self) -> int:
        return int(self.ndocs.sum())

    def decode_block(self, b: int):
        """-> (docs, tfs, fnids) arrays for block b (cached)."""
        hit = self._cache.get(b)
        if hit is None:
            docs = decode_docs(self.docs[b])
            tfs = decode_tfs(self.tfs[b])
            fnids = np.frombuffer(self.fnids[b], dtype=np.uint8)
            hit = (docs, tfs, fnids)
            self._cache[b] = hit
        return hit

    def decode_blocks(self, blocks: np.ndarray):
        """Concatenated (docs, tfs, fnids, block_of_each_doc).

        Batch path: the selected blocks' byte streams are joined and
        decoded in ONE varbyte pass each (docs, tfs), with per-block
        doc values recovered by a segmented cumsum (each block's first
        gap is absolute, base -1) — constant numpy-call count instead
        of ~40 tiny-array calls per block, which dominated wide-term
        queries (thousands of blocks per segment)."""
        bl = np.asarray(blocks, dtype=np.int64)
        if bl.size == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z, z.astype(np.uint8), z
        if bl.size == 1:
            b = int(bl[0])
            docs, tfs, fnids = self.decode_block(b)
            return docs, tfs, fnids, np.full(docs.size, b, dtype=np.int64)
        idx = bl.tolist()
        counts = self.ndocs[bl]
        starts = np.zeros(counts.size, dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        gaps = varbyte_decode(
            b"".join([self.docs[b] for b in idx])).astype(np.int64)
        cs = np.cumsum(gaps)
        # within-block cumsum = global cumsum minus the sum before the
        # block; first gap encodes doc+1 (base -1), hence the -1
        docs = cs - np.repeat(cs[starts] - gaps[starts], counts) - 1
        tfs = (varbyte_decode(
            b"".join([self.tfs[b] for b in idx])) + np.uint64(1)
        ).astype(np.int64)
        fnids = np.frombuffer(b"".join([self.fnids[b] for b in idx]),
                              dtype=np.uint8)
        owner = np.repeat(bl, counts)
        return docs, tfs, fnids, owner

    def blocks_overlapping(self, cand_docs: np.ndarray) -> np.ndarray:
        """Blocks whose [first_doc, last_doc] range contains any candidate
        (vectorized skip: searchsorted over block boundaries)."""
        if cand_docs.size == 0 or self.nblocks == 0:
            return np.empty(0, dtype=np.int64)
        # block for candidate c = first block with last_doc >= c.
        # Order-independent: each candidate is matched against its own
        # block (no positional slicing), so unsorted input is safe.
        idx = np.searchsorted(self.last_doc, cand_docs, side="left")
        ok = idx < self.nblocks
        valid = ok.copy()
        valid[ok] = cand_docs[ok] >= self.first_doc[idx[ok]]
        return np.unique(idx[valid])

    def lookup(self, cand_docs: np.ndarray):
        """(tfs, fnids, found_mask) for candidate docs (sorted)."""
        blocks = self.blocks_overlapping(cand_docs)
        docs, tfs, fnids, _ = self.decode_blocks(blocks)
        if docs.size == 0:
            # no block overlaps any candidate (possible when probing a
            # rare or-group member / mustnot term against a candidate
            # set built from other lists)
            z = np.zeros(cand_docs.size, dtype=np.int64)
            return (z, z.astype(np.uint8),
                    np.zeros(cand_docs.size, dtype=bool))
        pos = np.searchsorted(docs, cand_docs)
        pos_c = np.clip(pos, 0, docs.size - 1)
        found = (docs[pos_c] == cand_docs) & (pos < docs.size)
        return tfs[pos_c], fnids[pos_c], found

    def positions_flat(self, cand_docs: np.ndarray):
        """(flat positions, per-candidate counts) for candidate docs.

        cand_docs must be sorted and present in this posting list. The
        flat array is each candidate's ascending position list
        concatenated in candidate order — one ragged gather, no
        per-candidate Python loop."""
        assert self.positions is not None, "index built without positions"
        blocks = self.blocks_overlapping(cand_docs)
        flat_parts: list[np.ndarray] = []
        doc_parts: list[np.ndarray] = []
        cnt_parts: list[np.ndarray] = []
        for b in blocks:
            docs, tfs, _ = self.decode_block(int(b))
            poss = decode_positions(self.positions[int(b)], tfs)
            ends = np.cumsum(tfs)
            starts = ends - tfs
            # membership via searchsorted (cand_docs sorted): np.isin
            # would re-sort the candidate array once per block
            ins = np.searchsorted(cand_docs, docs)
            ok = ins < cand_docs.size
            ok[ok] = cand_docs[ins[ok]] == docs[ok]
            sel = np.flatnonzero(ok)
            if sel.size == 0:
                continue
            stf = tfs[sel]
            # ragged gather: out[i] spans starts[sel[i]] .. +stf[i]
            total = int(stf.sum())
            base = np.repeat(starts[sel], stf)
            local = (np.arange(total, dtype=np.int64)
                     - np.repeat(np.cumsum(stf) - stf, stf))
            flat_parts.append(poss[base + local])
            doc_parts.append(docs[sel])
            cnt_parts.append(stf)
        counts = np.zeros(cand_docs.size, dtype=np.int64)
        if not flat_parts:
            return np.empty(0, dtype=np.int64), counts
        sel_docs = np.concatenate(doc_parts)
        idx = np.searchsorted(cand_docs, sel_docs)
        counts[idx] = np.concatenate(cnt_parts)
        # blocks are doc-ordered and non-overlapping, so concatenation
        # is already in candidate order
        return np.concatenate(flat_parts), counts


def _merge_topk(docs, scores, k):
    """Top-k by (score desc, doc asc)."""
    if docs.size <= k:
        order = np.lexsort((docs, -scores))
        return docs[order], scores[order]
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order]


def single_term_topk(tp: TermPostings, weight: Bm25Weight, k: int):
    """Block-max-pruned top-k over one posting list."""
    d = weight.dtype
    ub = weight.score(tp.block_min_fnid, tp.block_max_tf)
    order = np.argsort(-ub, kind="stable")
    best_docs = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=d)
    threshold = -np.inf
    # geometric chunk growth: starts fine so a discriminating ub
    # ordering exits after ~1-2 tiny chunks, doubles so a flat ub
    # ordering (pruning impossible) pays O(log nblocks) iterations of
    # fixed numpy overhead instead of nblocks/32 — a concatenated
    # whole-index stream can be 10^4+ blocks. Chunk size never changes
    # the result: every chunk's candidates go through the same exact
    # top-k merge, larger chunks merely decode blocks a finer schedule
    # could have skipped.
    chunk = 32
    i = 0
    while i < order.size:
        blocks = order[i:i + chunk]
        i += chunk
        if best_docs.size >= k and float(ub[blocks[0]]) < threshold:
            break  # no remaining block can beat the k-th score
        keep = (ub[blocks] >= threshold) | (best_docs.size < k)
        # adaptive schedule: while pruning is biting (some blocks
        # dropped), stay fine so the threshold tightens between small
        # decodes; when a whole chunk survives (flat bounds, pruning
        # impossible) double the chunk so a 10^4-block concatenated
        # stream pays O(log) iterations of fixed numpy overhead
        chunk = min(chunk * 2, 8192) if bool(keep.all()) else 32
        blocks = blocks[keep]
        if blocks.size == 0:
            continue
        docs, tfs, fnids, _ = tp.decode_blocks(np.sort(blocks))
        scores = weight.score(fnids, tfs)
        best_docs = np.concatenate([best_docs, docs])
        best_scores = np.concatenate([best_scores, scores])
        best_docs, best_scores = _merge_topk(best_docs, best_scores, k)
        if best_docs.size >= k:
            threshold = float(best_scores[-1])
    return best_docs, best_scores


def union_topk(term_specs: list[tuple], k: int, dtype=np.float32,
               mustnot_groups: list | None = None,
               tie: float | None = None):
    """Scored disjunction (Should) top-k with multi-scorer block-max
    pruning — the vectorized analog of the reference's Block-Max WAND
    (crates/tantivy/src/query/boolean_query/block_wand.rs:16-212).

    term_specs: [(TermPostings, Bm25Weight), ...] in query-clause order.

    Instead of the doc-at-a-time pivot walk, doc space is swept into
    elementary intervals at block boundaries; each interval's score
    upper bound is the sum of the covering blocks' bounds (numpy event
    sweep). Intervals are processed in descending-bound chunks; exact
    scoring (concat + stable sort + reduceat, preserving clause order
    for f32 accumulation) stops when the next bound cannot beat the
    current k-th score. Property-tested equal to exhaustive union.

    tie: DisjunctionMax combiner (tantivy DisjunctionMaxQuery,
    score_combiner.rs:82-115): doc score = max over matching clauses +
    tie × (sum − max) instead of the plain sum. The sum-of-block-ubs
    interval bound stays a valid upper bound for any tie in [0, 1]
    (max + tie·(sum−max) <= sum), so pruning is unchanged — merely
    looser.
    """
    if tie is not None and not 0.0 <= tie <= 1.0:
        raise ValueError("dismax tie_breaker must be in [0, 1]")
    d = dtype
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=d))
    specs = [(tp, w) for tp, w in term_specs if tp.nblocks > 0]
    if not specs:
        return empty

    # per-block upper bounds and the interval event sweep
    firsts, ends, ubs = [], [], []
    for tp, w in specs:
        ub = w.score(tp.block_min_fnid, tp.block_max_tf).astype(np.float64)
        firsts.append(tp.first_doc)
        ends.append(tp.last_doc + 1)
        ubs.append(ub)
    f_all = np.concatenate(firsts)
    e_all = np.concatenate(ends)
    u_all = np.concatenate(ubs)
    pts = np.unique(np.concatenate([f_all, e_all]))
    delta = np.zeros(pts.size, dtype=np.float64)
    np.add.at(delta, np.searchsorted(pts, f_all), u_all)
    np.add.at(delta, np.searchsorted(pts, e_all), -u_all)
    bound = np.cumsum(delta)[:-1]          # bound of [pts[j], pts[j+1])
    ivl_lo = pts[:-1]
    ivl_hi = pts[1:] - 1                   # inclusive
    live = bound > 0
    bound, ivl_lo, ivl_hi = bound[live], ivl_lo[live], ivl_hi[live]

    order = np.argsort(-bound, kind="stable")
    best_docs = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=d)
    threshold = -np.inf
    # adaptive chunk schedule — same rationale (and same result-
    # invariance argument) as single_term_topk
    chunk = 64
    s = 0
    while s < order.size:
        sel = order[s:s + chunk]
        s += chunk
        # strict-less with slack: f32 score accumulation can round a hair
        # above the f64 sum of per-block bounds
        if (best_docs.size >= k
                and float(bound[sel[0]])
                < threshold - 1e-5 * abs(threshold) - 1e-9):
            break
        if (best_docs.size >= k
                and float(bound[sel[-1]]) >= threshold):
            chunk = min(chunk * 2, 8192)  # no interval prunable yet
        else:
            chunk = 64
        lo, hi = ivl_lo[sel], ivl_hi[sel]
        # gather contributions from blocks overlapping these intervals
        docs_parts, contrib_parts = [], []
        for tp, w in specs:
            blocks = np.unique(np.concatenate([
                tp.blocks_overlapping(lo), tp.blocks_overlapping(hi)]))
            if blocks.size == 0:
                continue
            dd, tf, fn, _ = tp.decode_blocks(blocks)
            # keep docs inside one of the chunk's intervals
            lo_s = np.sort(lo)
            hi_s = ivl_hi[sel][np.argsort(lo)]
            idx = np.searchsorted(lo_s, dd, side="right") - 1
            ok = (idx >= 0) & (dd <= hi_s[np.clip(idx, 0, hi_s.size - 1)])
            if not ok.any():
                continue
            docs_parts.append(dd[ok])
            contrib_parts.append(w.score(fn[ok], tf[ok]))
        if not docs_parts:
            continue
        # per-clause scatter-add in clause order: reproduces the f32
        # sequential accumulation of the oracle/reference exactly
        # (np.add.reduceat would not — it reorders the reduction)
        docs_u = np.unique(np.concatenate(docs_parts))
        scores = np.zeros(docs_u.size, dtype=d)
        if tie is None:
            for pd_, pc_ in zip(docs_parts, contrib_parts):
                idx = np.searchsorted(docs_u, pd_)
                scores[idx] = (scores[idx] + pc_.astype(d)).astype(d)
        else:
            # DisjunctionMax: max + tie × (sum − max), sum accumulated
            # in clause order (same f32 sequencing as the sum path)
            smax = np.zeros(docs_u.size, dtype=d)
            for pd_, pc_ in zip(docs_parts, contrib_parts):
                idx = np.searchsorted(docs_u, pd_)
                scores[idx] = (scores[idx] + pc_.astype(d)).astype(d)
                np.maximum.at(smax, idx, pc_.astype(d))
            scores = (smax + d(tie) * (scores - smax)).astype(d)
        # MustNot exclusion BEFORE merging so pruning never hides a doc
        # the exhaustive evaluation would have kept
        for group in (mustnot_groups or []):
            if not group or any(t.nblocks == 0 for t in group) \
                    or docs_u.size == 0:
                continue
            sub = docs_u
            for tp in group:
                if sub.size == 0:
                    break
                _, _, found = tp.lookup(sub)
                sub = sub[found]
            if sub.size:
                keep = ~np.isin(docs_u, sub, assume_unique=True)
                docs_u, scores = docs_u[keep], scores[keep]
        best_docs = np.concatenate([best_docs, docs_u])
        best_scores = np.concatenate([best_scores, scores])
        best_docs, best_scores = _merge_topk(best_docs, best_scores, k)
        if best_docs.size >= k:
            threshold = float(best_scores[-1])
    return best_docs, best_scores


def _group_docs(group: list[tuple]) -> np.ndarray:
    """Union of member posting docs for an or-group [(tp, w), ...]."""
    parts = [tp.decode_blocks(np.arange(tp.nblocks))[0]
             for tp, _ in group if tp.nblocks > 0]
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def _group_found(group: list[tuple], cand: np.ndarray) -> np.ndarray:
    """Mask: candidate matches >= 1 member of the or-group."""
    m = np.zeros(cand.size, dtype=bool)
    for tp, _ in group:
        if tp.nblocks == 0 or cand.size == 0:
            continue
        _, _, found = tp.lookup(cand)
        m |= found
    return m


def intersect_units(units: list) -> np.ndarray:
    """Conjunction over units; a unit is either ("one", TermPostings) —
    a required posting list — or ("any", [(tp, w), ...]) — an or-group
    satisfied by any member (the compound-term augmentation shape,
    reference: query/plan/mod.rs:223-300 builds (term OR compounds) AND
    (term OR compounds)). Rarest unit drives."""
    def est(u):
        kind, v = u
        if kind == "one":
            return v.doc_count
        return sum(tp.doc_count for tp, _ in v)

    order = sorted(range(len(units)), key=lambda i: est(units[i]))
    kind, v = units[order[0]]
    cand = (v.decode_blocks(np.arange(v.nblocks))[0] if kind == "one"
            else _group_docs(v))
    for j in order[1:]:
        if cand.size == 0:
            return cand
        kind, v = units[j]
        if kind == "one":
            _, _, found = v.lookup(cand)
        else:
            found = _group_found(v, cand)
        cand = cand[found]
    return cand


class PhraseTps(list):
    """Phrase-clause posting lists + slop budget. A ``list`` subclass so
    every existing ``isinstance(tp, list)`` site (unit building, nblocks
    liveness checks) keeps seeing the constituent TermPostings."""

    def __init__(self, tps, slop: int = 0):
        super().__init__(tps)
        self.slop = int(slop)


def phrase_tf(tps: list[TermPostings], cand: np.ndarray,
              slop: int = 0) -> np.ndarray:
    """Phrase match count per candidate doc (0 = no match). `tps` in
    phrase word order; cand sorted and present in every tp.

    Fully vectorized (no per-candidate loop): positions are doc-offset
    encoded as rank(doc) * 2^32 + (pos - word_offset), so ONE sorted
    intersection per adjacent word pair verifies adjacency across ALL
    candidates at once (reference per-doc equivalent:
    crates/tantivy/src/query/phrase_query/phrase_scorer.rs:46-120).

    slop > 0 switches to the budgeted-chain variant (see
    ``_phrase_tf_slop``)."""
    if slop > 0:
        return _phrase_tf_slop(tps, cand, slop)
    counts = np.zeros(cand.size, dtype=np.int64)
    if cand.size == 0:
        return counts
    SHIFT = np.int64(1) << np.int64(32)  # positions are < 2^31
    live: np.ndarray | None = None
    for off, tp in enumerate(tps):
        flat, per_doc = tp.positions_flat(cand)
        ranks = np.repeat(np.arange(cand.size, dtype=np.int64), per_doc)
        if off:
            # a match starting before the doc can't exist: drop pos < off
            keep = flat >= off
            if not keep.all():
                flat, ranks = flat[keep], ranks[keep]
        enc = ranks * SHIFT + (flat - off)
        if live is None:
            live = enc
        else:
            live = np.intersect1d(live, enc, assume_unique=True)
        if live.size == 0:
            return counts
    np.add.at(counts, live // SHIFT, 1)
    return counts


def _phrase_tf_slop(tps: list[TermPostings], cand: np.ndarray,
                    slop: int) -> np.ndarray:
    """Near-phrase match count with a total positional budget.

    Dynamic program over offset-adjusted positions, vectorized across
    every candidate doc at once. Positions are shifted like the
    reference's PostingsWithOffset (adj = pos + (n-1-off), phrase_
    scorer.rs:371-383 shifts by max_offset-offset so exact order means
    equal values and out-of-order matches stay comparable via abs
    diff), then doc-offset encoded (rank * 2^32 + adj). The frontier
    after word i holds each adjusted position of word i that terminates
    a chain p_1..p_i with minimal accumulated |Δadj| <= slop; word i+1
    positions probe the frontier at the 2*slop+1 integer deltas via
    searchsorted (cost O((2s+1)·P), s <= 255 = the reference's u8 slop
    cap).

    tf = number of distinct LAST-word positions reachable within
    budget. Documented deviation: the reference's count for >2 terms is
    itself approximate (phrase_scorer.rs:225-230 "This algorithm may
    return an incorrect count in some cases"); the budgeted-chain DP is
    deterministic, coincides with the exact count at slop=0, and is
    exactly reproducible in SQL for the oracle gate."""
    counts = np.zeros(cand.size, dtype=np.int64)
    if cand.size == 0:
        return counts
    SHIFT = np.int64(1) << np.int64(32)
    n = len(tps)
    BIG = np.iinfo(np.int64).max
    fenc = fslop = None
    for off, tp in enumerate(tps):
        flat, per_doc = tp.positions_flat(cand)
        ranks = np.repeat(np.arange(cand.size, dtype=np.int64), per_doc)
        # adj >= 0 always, < 2^31 + n: a +/-slop shift can wrap into a
        # neighbouring rank's space only with adj' > 2^31, which no real
        # value reaches -> no false cross-doc matches.
        enc = ranks * SHIFT + (flat + np.int64(n - 1 - off))
        if fenc is None:
            fenc, fslop = enc, np.zeros(enc.size, dtype=np.int64)
            continue
        best = np.full(enc.size, BIG, dtype=np.int64)
        for d in range(-slop, slop + 1):
            idx = np.searchsorted(fenc, enc - d)
            ok = idx < fenc.size
            hit = np.where(ok)[0]
            hit = hit[fenc[idx[hit]] == enc[hit] - d]
            if hit.size:
                cost = fslop[idx[hit]] + abs(d)
                best[hit] = np.minimum(best[hit], cost)
        keep = best <= slop
        if not keep.any():
            return counts
        fenc, fslop = enc[keep], best[keep]
    np.add.at(counts, fenc // SHIFT, 1)
    return counts


def pattern_mask(tps: list[TermPostings], cand: np.ndarray,
                 slops, anchor_start: bool, anchor_end: bool,
                 doclen_fn=None) -> np.ndarray:
    """Token-pattern match mask over candidate docs (reference:
    crates/core/src/query/pattern_query/scorer.rs NormalPatternScorer,
    :257-338).

    Terms must appear in order; slops[i] bounds the gap between term i
    and term i+1 (1 = adjacent per the scorer's default, WILDCARD_SLOP
    = `*`). The chain is the scorer's intersection_with_slop
    (:370-408): surviving positions of term i+1 are those r with some
    live l of term i satisfying r - slop <= l <= r — vectorized across
    all candidates at once via doc-offset encoding (rank * 2^32 + pos;
    a window of <= 2^31-1 can never cross into another doc's encoded
    range, so no false cross-doc matches). Anchors mirror the scorer
    exactly: anchor_start gates on the FIRST position of the first
    term being 0 (:305-311), anchor_end on the LAST position of the
    last term equalling doclen-1 (:320-333, num_tokens columnfield ->
    here the kind='d' doclen via `doclen_fn`)."""
    if cand.size == 0:
        return np.zeros(0, dtype=bool)
    if any(tp.nblocks == 0 for tp in tps):
        return np.zeros(cand.size, dtype=bool)
    SHIFT = np.int64(1) << np.int64(32)
    flat, per = tps[0].positions_flat(cand)
    m = per > 0
    if anchor_start:
        starts = np.cumsum(per) - per
        first_pos = np.full(cand.size, -1, dtype=np.int64)
        has = per > 0
        first_pos[has] = flat[starts[has]]
        m &= first_pos == 0
    live = (np.repeat(np.arange(cand.size, dtype=np.int64), per) * SHIFT
            + flat)
    for i, tp in enumerate(tps[1:]):
        s = np.int64(slops[i])
        if live.size == 0:
            return np.zeros(cand.size, dtype=bool)
        flat, per = tp.positions_flat(cand)
        enc = (np.repeat(np.arange(cand.size, dtype=np.int64), per)
               * SHIFT + flat)
        # largest live l <= r (equality allowed like the reference's
        # right_slop <= left_val <= right_val)
        idx = np.searchsorted(live, enc, side="right") - 1
        keep = np.where(idx >= 0)[0]
        keep = keep[live[idx[keep]] >= enc[keep] - s]
        live = enc[keep]
    chain = np.zeros(cand.size, dtype=bool)
    if live.size:
        chain[np.unique(live // SHIFT)] = True
    m &= chain
    if anchor_end:
        assert doclen_fn is not None, "anchor_end needs doclen lookup"
        flat, per = tps[-1].positions_flat(cand)
        ends = np.cumsum(per) - 1
        last_pos = np.full(cand.size, -2, dtype=np.int64)
        has = per > 0
        last_pos[has] = flat[ends[has]]
        m &= last_pos == np.asarray(doclen_fn(cand), dtype=np.int64) - 1
    return m


def matcher_mask(spec, cand: np.ndarray) -> np.ndarray:
    """Mask of candidates matching one optic matcher spec:
    list[TermPostings] (every term present), ("pat", tps, slops,
    a_start, a_end, doclen_fn), or ("and", [spec, ...])."""
    if isinstance(spec, tuple) and spec and spec[0] == "pat":
        _, tps, slops, a_s, a_e, dl_fn = spec
        return pattern_mask(tps, cand, slops, a_s, a_e, dl_fn)
    if isinstance(spec, tuple) and spec and spec[0] == "and":
        m = np.ones(cand.size, dtype=bool)
        for sub in spec[1]:
            m &= matcher_mask(sub, cand)
        return m
    m = np.ones(cand.size, dtype=bool)
    for tp in spec:
        if tp.nblocks == 0:
            m[:] = False
            break
        if cand.size == 0:
            break
        _, _, found = tp.lookup(cand)
        m &= found
    return m


def segment_topk(
    clause_specs: list[tuple],
    mustnot_groups: list[list[TermPostings]],
    k: int,
    dtype=np.float32,
    max_docs: int | None = None,
    should_specs: list[tuple] | None = None,
    boost_specs: list[tuple] | None = None,
    require_any: list[list[TermPostings]] | None = None,
    range_fns: list | None = None,
    const_score: float | None = None,
    with_count: bool = False,
):
    """Full per-segment evaluation.

    clause_specs: list of ("term", TermPostings, Bm25Weight),
                  ("phrase", [TermPostings...], Bm25Weight), or
                  ("filter", TermPostings, None) — attribute filters
                  participate in the conjunction but contribute 0 score
                  (reference: site:/intitle: clauses are unscored
                  Must occurrences).
    should_specs: optional Should clauses (same shapes): they do NOT gate
        membership — the candidate set is the Must conjunction — but any
        matching Should clause adds its BM25 contribution (reference
        Occur composition: must gates, should scores,
        crates/tantivy/src/query/boolean_query/boolean_weight.rs:107-184;
        RequiredOptionalScorer semantics).
    boost_specs: optic-rule boosts [(factor, [TermPostings, ...]), ...]
        — a rule matches a doc when EVERY listed posting list contains
        it; factor > 0 accumulates into `boost`, factor < 0 into
        `downrank` (|factor|), and the final multiplier is
        1/(1 + downrank - boost) when downrank > boost else
        boost - downrank + 1, applied to the doc's total BEFORE top-k
        selection (reference: optic rule boosts,
        crates/core/src/ranking/computer/mod.rs:471-497 applied in
        ranking/initial.rs:87-88).
    require_any: DiscardNonMatching gate — candidates must fully match
        at least ONE of the listed term-groups (reference: optic.rs:
        56-70 adds a Must union of the non-discard rules' matchers).
    range_fns: unscored range-filter membership callables
        (cand -> bool mask), ANDed into the conjunction before the
        ShortCircuit cap — the fast-field RangeQuery analog
        (crates/tantivy/src/query/range_query/): each fn wraps a
        partition-pruned columnar read of this segment's row-store
        attribute column.
    clause kinds "termset" (("termset", [(tp, None), ...], boost) —
        membership = any member, flat score `boost`·1.0, the tantivy
        TermSetQuery whose combiner ignores subscorer scores,
        set_query.rs) and "all" (("all", None, boost) — no membership
        unit, every candidate gains `boost`·1.0, tantivy AllQuery;
        requires >= 1 other membership-bearing clause — pure match-all
        queries take the executor's row-store path instead).
    const_score: replace every candidate's total with this constant
        AFTER membership/phrase verification (tantivy ConstScoreQuery:
        the wrapped query decides matching, the score is fixed; optic
        boost multipliers still apply on top).
    A missing Must term in this segment (TermPostings with 0 blocks)
    makes the conjunction empty.
    Returns (doc_ids, scores) local top-k — or, with with_count=True,
    (doc_ids, scores, n_matches, capped): the exact number of docs that
    survive every membership stage (the tuple-collector shape of the
    reference's one-pass search, crates/core/src/inverted_index/
    search.rs:47-95 — (Count, TopDocs) over one scorer walk; the
    conjunctive kernel materializes the full candidate set anyway, so
    the count is free) plus whether the ShortCircuit cap truncated the
    candidate stream (docs were skipped — the count is a lower bound).
    """
    d = dtype
    capped = False
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=d))
    if with_count:
        empty = empty + (0, False)
    for kind, tp, _ in clause_specs:
        if kind in ("or", "termset"):
            # an or-group needs at least one live member
            if all(t.nblocks == 0 for t, _ in tp):
                return empty
            continue
        if kind == "all":
            continue  # always live
        if kind == "pphrase":
            fixed, exps = tp
            if (any(t.nblocks == 0 for t in fixed)
                    or all(e.nblocks == 0 for e in exps)):
                return empty
            continue
        tps = tp if isinstance(tp, list) else [tp]
        if any(t.nblocks == 0 for t in tps):
            return empty

    # fast path: single term clause, no negation/should -> block-max WAND
    if (len(clause_specs) == 1 and clause_specs[0][0] == "term"
            and not mustnot_groups and max_docs is None
            and not should_specs and not boost_specs
            and require_any is None and not range_fns
            and const_score is None):
        _, tp, w = clause_specs[0]
        res = single_term_topk(tp, w, k)
        if with_count:
            # no negation/range/cap in this branch: every posting doc
            # matches, so the count is the df without disabling WAND
            return res + (int(tp.doc_count), False)
        return res

    # conjunctive candidates across all positive clauses
    units: list = []
    for kind, tp, _ in clause_specs:
        if kind in ("or", "termset"):
            units.append(("any", tp))
        elif kind == "all":
            pass  # no membership unit — see docstring
        elif kind == "pphrase":
            fixed, exps = tp
            units.extend(("one", t) for t in fixed)
            units.append(("any", [(e, None) for e in exps
                                  if e.nblocks > 0]))
        else:
            units.extend(("one", t)
                         for t in (tp if isinstance(tp, list) else [tp]))
    if not units:
        return empty  # pure "all" queries use the row-store path
    cand = intersect_units(units)
    if cand.size == 0:
        return empty
    # unscored range filters: part of the conjunction, applied before
    # the ShortCircuit cap (a capped scan must count range-surviving
    # docs, like any other Must clause)
    for fn in (range_fns or []):
        if cand.size:
            cand = cand[fn(cand)]
    if cand.size == 0:
        return empty
    if max_docs is not None and cand.size > max_docs:
        # ShortCircuit: stop considering docs past the per-segment cap,
        # in ascending doc order (reference:
        # crates/tantivy/src/query/shortcircuit.rs:22-74, used with
        # max_docs_considered=250k, config/defaults.rs:38-40)
        cand = cand[:max_docs]
        capped = True

    # MustNot exclusion: docs matching ALL terms of a negative group
    # (or, for optic discard rules, the group's matcher spec — possibly
    # a token pattern)
    for group in mustnot_groups:
        if isinstance(group, list):
            if not group or any(t.nblocks == 0 for t in group):
                continue
            sub = cand
            for tp in group:
                if sub.size == 0:
                    break
                _, _, found = tp.lookup(sub)
                sub = sub[found]
            if sub.size:
                cand = cand[~np.isin(cand, sub, assume_unique=True)]
        else:
            cand = cand[~matcher_mask(group, cand)]
    if cand.size == 0:
        return empty[:2] + (0, capped) if with_count else empty

    # DiscardNonMatching: keep candidates matching >= 1 rule matcher
    if require_any is not None:
        m = np.zeros(cand.size, dtype=bool)
        for spec in require_any:
            m |= matcher_mask(spec, cand)
        cand = cand[m]
        if cand.size == 0:
            return empty[:2] + (0, capped) if with_count else empty

    # score clause by clause in query order (f32 accumulation order)
    total = np.zeros(cand.size, dtype=d)
    for kind, tp, w in clause_specs:
        if kind == "filter":
            continue  # conjunction-only, unscored
        if kind in ("termset", "all"):
            # flat 1.0 × boost: TermSetQuery ignores member scores
            # (set_query.rs DoNothingCombiner), AllQuery scores 1.0
            # (all_query.rs:10); every candidate matches by
            # construction here
            total = (total + d(w)).astype(d)
            continue
        if kind == "term":
            tfs, fnids, found = tp.lookup(cand)
            assert found.all()
            total = (total + w.score(fnids, tfs)).astype(d)
        elif kind == "or":
            # sum of matching alternatives (tantivy Or node sums all
            # matching subscorers); >=1 matches by construction
            for mtp, mw in tp:
                if mtp.nblocks == 0:
                    continue
                tfs, fnids, found = mtp.lookup(cand)
                contrib = np.zeros(cand.size, dtype=d)
                if found.any():
                    contrib[found] = mw.score(fnids[found], tfs[found])
                total = (total + contrib).astype(d)
        elif kind == "pphrase":
            # phrase-prefix: tf = phrase occurrences ending in ANY
            # expansion term (distinct terms can't share a position,
            # so summing per-expansion counts is exact); weight from
            # the fixed terms only (tantivy PhrasePrefixQuery)
            fixed, exps = tp
            tfs = np.zeros(cand.size, dtype=np.int64)
            for e in exps:
                if e.nblocks:
                    tfs += phrase_tf(list(fixed) + [e], cand)
            keep = tfs > 0
            cand, total, tfs = cand[keep], total[keep], tfs[keep]
            if cand.size == 0:
                return empty[:2] + (0, capped) if with_count else empty
            _, fnids, _ = fixed[0].lookup(cand)
            total = (total + w.score(fnids, tfs)).astype(d)
        else:  # phrase
            tfs = phrase_tf(tp, cand, getattr(tp, "slop", 0))
            keep = tfs > 0
            cand, total, tfs = cand[keep], total[keep], tfs[keep]
            if cand.size == 0:
                return empty[:2] + (0, capped) if with_count else empty
            _, fnids, _ = tp[0].lookup(cand)
            total = (total + w.score(fnids, tfs)).astype(d)

    # Should clauses: add score where they match, never gate membership
    for kind, tp, w in (should_specs or []):
        if kind == "filter":
            continue  # an unscored Should is a no-op (must∧should→must)
        if kind == "term":
            if tp.nblocks == 0:
                continue
            tfs, fnids, found = tp.lookup(cand)
            contrib = np.zeros(cand.size, dtype=d)
            if found.any():
                contrib[found] = w.score(fnids[found], tfs[found])
            total = (total + contrib).astype(d)
        else:  # phrase
            if any(t.nblocks == 0 for t in tp):
                continue
            sub = cand
            for t in tp:
                if sub.size == 0:
                    break
                _, _, fnd = t.lookup(sub)
                sub = sub[fnd]
            if sub.size == 0:
                continue
            tfs = phrase_tf(tp, sub, getattr(tp, "slop", 0))
            good = tfs > 0
            if not good.any():
                continue
            sub = sub[good]
            _, fnids, _ = tp[0].lookup(sub)
            pos = np.searchsorted(cand, sub)
            contrib = np.zeros(cand.size, dtype=d)
            contrib[pos] = w.score(fnids, tfs[good])
            total = (total + contrib).astype(d)

    if const_score is not None:
        # tantivy ConstScoreQuery (const_score_query.rs): membership
        # (incl. phrase verification above) from the wrapped query,
        # score a constant
        total = np.full(cand.size, const_score, dtype=d)

    # optic boosts: accumulate per-doc boost/downrank over matching
    # rules, multiply before the top-k cut (f64 accumulation like the
    # reference's f64 Score total)
    if boost_specs:
        boost = np.zeros(cand.size, dtype=np.float64)
        down = np.zeros(cand.size, dtype=np.float64)
        for factor, spec in boost_specs:
            m = matcher_mask(spec, cand)
            if factor >= 0:
                boost[m] += factor
            else:
                down[m] += -factor
        # branch under the mask (np.where would evaluate the reciprocal
        # for boost-down == 1.0 rows too -> divide-by-zero warnings)
        mult = boost - down + 1.0
        dn = down > boost
        mult[dn] = 1.0 / (1.0 + down[dn] - boost[dn])
        total = (total.astype(np.float64) * mult).astype(d)

    if with_count:
        return _merge_topk(cand, total, k) + (int(cand.size), capped)
    return _merge_topk(cand, total, k)


def compute_signals(term_specs: list[tuple], dtype=np.float32):
    """Per-doc text signals over the union of the query terms' postings
    — the SignalComputer analog (reference walks every query term's
    posting list per doc computing Bm25 / Coverage / IdfSum,
    crates/core/src/ranking/computer/mod.rs:61-143):

    - bm25: sum of matching terms' BM25 contributions (clause order);
    - coverage: fraction of query terms the doc matches (:89-105);
    - idf_sum: sum of matched terms' idf weights (:124-143).

    Returns (docs, bm25, coverage, idf_sum); docs = union of all term
    postings (any-match semantics — signals exist wherever at least one
    term matches). Exact, no pruning: this is the signal-computation
    surface a blend consumes, not a top-k query."""
    d = dtype
    live = [(tp, w) for tp, w in term_specs if tp.nblocks > 0]
    if not live:
        z = np.empty(0, dtype=np.int64)
        return z, z.astype(d), z.astype(np.float64), z.astype(d)
    docs = np.unique(np.concatenate(
        [tp.decode_blocks(np.arange(tp.nblocks))[0] for tp, _ in live]))
    n_terms = len(term_specs)
    bm25 = np.zeros(docs.size, dtype=d)
    matched = np.zeros(docs.size, dtype=np.int64)
    idf_sum = np.zeros(docs.size, dtype=d)
    for tp, w in live:
        tfs, fnids, found = tp.lookup(docs)
        contrib = np.zeros(docs.size, dtype=d)
        if found.any():
            contrib[found] = w.score(fnids[found], tfs[found])
        bm25 = (bm25 + contrib).astype(d)
        matched += found
        idf_sum[found] = (idf_sum[found] + d(w.weight)).astype(d)
    coverage = matched / float(n_terms)
    return docs, bm25, coverage, idf_sum


def _units_and_finish(clause_specs, mustnot_groups, range_fns):
    """(membership units, finish fn) shared by count_matches and
    matching_docs; (None, None) when a required clause is dead."""
    for kind, tp, _ in clause_specs:
        if kind in ("or", "termset"):
            if all(t.nblocks == 0 for t, _ in tp):
                return None, None
            continue
        if kind == "all":
            continue
        if kind == "pphrase":
            fixed, exps = tp
            if (any(t.nblocks == 0 for t in fixed)
                    or all(e.nblocks == 0 for e in exps)):
                return None, None
            continue
        tps = tp if isinstance(tp, list) else [tp]
        if any(t.nblocks == 0 for t in tps):
            return None, None
    units: list = []
    for kind, tp, _ in clause_specs:
        if kind in ("or", "termset"):
            units.append(("any", tp))
        elif kind == "all":
            pass  # no membership unit (pure-all counts use the
            #       executor's row-store path)
        elif kind == "pphrase":
            fixed, exps = tp
            units.extend(("one", t) for t in fixed)
            units.append(("any", [(e, None) for e in exps
                                  if e.nblocks > 0]))
        else:
            units.extend(("one", t)
                         for t in (tp if isinstance(tp, list) else [tp]))
    phrases = [tp for kind, tp, _ in clause_specs if kind == "phrase"]
    pphrases = [tp for kind, tp, _ in clause_specs if kind == "pphrase"]

    def _finish(cand: np.ndarray) -> np.ndarray:
        """Range-filter + phrase-verify + MustNot-exclude one chunk of
        candidates (all per-doc pointwise, so chunking is exact)."""
        for fn in (range_fns or []):
            if cand.size:
                cand = cand[fn(cand)]
        for tp in phrases:
            if cand.size:
                cand = cand[phrase_tf(tp, cand,
                                      getattr(tp, "slop", 0)) > 0]
        for fixed, exps in pphrases:
            if cand.size:
                tfs = np.zeros(cand.size, dtype=np.int64)
                for e in exps:
                    if e.nblocks:
                        tfs += phrase_tf(list(fixed) + [e], cand)
                cand = cand[tfs > 0]
        for group in mustnot_groups:
            if (not group or any(t.nblocks == 0 for t in group)
                    or cand.size == 0):
                continue
            sub = cand
            for tp in group:
                _, _, found = tp.lookup(sub)
                sub = sub[found]
                if sub.size == 0:
                    break
            if sub.size:
                cand = cand[~np.isin(cand, sub, assume_unique=True)]
        return cand

    return units, _finish


def matching_docs(
    clause_specs: list[tuple],
    mustnot_groups: list[list[TermPostings]],
    range_fns: list | None = None,
) -> np.ndarray:
    """ALL matching doc ids for the conjunction (no scoring) — the
    membership set a facet/aggregation collector iterates (tantivy's
    aggregation SegmentCollector walks the scorer's doc set,
    crates/tantivy/src/aggregation/). Sorted ascending."""
    units, fin = _units_and_finish(clause_specs, mustnot_groups,
                                   range_fns)
    if units is None or not units:
        return np.empty(0, dtype=np.int64)
    return fin(intersect_units(units)).astype(np.int64)


def count_matches(
    clause_specs: list[tuple],
    mustnot_groups: list[list[TermPostings]],
    max_docs: int | None = None,
    range_fns: list | None = None,
) -> int:
    """Exact match count for the conjunction (no scoring).

    `max_docs` short-circuits: the driver posting list is decoded in
    block chunks and counting STOPS (returning exactly max_docs) once
    that many matches — after phrase verification and MustNot exclusion
    — have accumulated, so a capped segment pays ~cap work instead of
    the full intersection (reference ShortCircuitQuery semantics,
    crates/tantivy/src/query/shortcircuit.rs:22-74, the collector the
    ApproxCount estimate is defined against,
    collector/approx_count.rs:104-211)."""
    units, _finish = _units_and_finish(clause_specs, mustnot_groups,
                                       range_fns)
    if units is None or not units:
        return 0
    if max_docs is None:
        return int(_finish(intersect_units(units)).size)

    # chunked short-circuit: rarest "one" unit drives in 32-block slices
    def est(u):
        kind, v = u
        return (v.doc_count if kind == "one"
                else sum(tp.doc_count for tp, _ in v))

    order = sorted(range(len(units)), key=lambda i: est(units[i]))
    kind0, drv = units[order[0]]
    rest = [units[j] for j in order[1:]]
    if kind0 != "one":
        # group driver: no cheap chunking — fall back to full count
        return min(int(_finish(intersect_units(units)).size), max_docs)
    total = 0
    CHUNK = 32
    for b in range(0, drv.nblocks, CHUNK):
        cand, _, _, _ = drv.decode_blocks(
            np.arange(b, min(b + CHUNK, drv.nblocks)))
        for kind, v in rest:
            if cand.size == 0:
                break
            if kind == "one":
                _, _, found = v.lookup(cand)
            else:
                found = _group_found(v, cand)
            cand = cand[found]
        total += int(_finish(cand).size)
        if total >= max_docs:
            return max_docs
    return total


def diversity_rerank(
    doc_ids: np.ndarray,
    scores: np.ndarray,
    buckets: list[np.ndarray],
    penalties: list[float],
    k: int,
    simhashes: np.ndarray | None = None,
    hamming_k: int = 3,
):
    """Greedy diversity selection — the reference's BucketCollector
    (crates/core/src/collector/top_docs.rs:246-363): repeatedly take
    the doc with the highest ADJUSTED score, where
    adjusted = raw / (1 + Σ_c taken_c(bucket_c(doc)) × penalty_c)
    and taken_c counts already-selected docs sharing the doc's bucket
    in penalty column c (defaults.rs:22-36: site 0.1, title 1.0,
    url 20.0). With `simhashes`, a candidate whose simhash is within
    `hamming_k` bits of any ALREADY-SELECTED doc is deferred
    (simhash.rs Table, K=3) and re-appended after the diversified
    picks, up to k — into_sorted_vec(true) semantics.

    Ties on adjusted score break doc_id asc (the reference's heap
    order is unspecified on exact ties; doc_id asc matches every other
    tie-break in this engine and makes the operator deterministic).

    Returns (order, n_diverse): int64 indices into the input arrays in
    final rank order (selected picks then deferred near-dups), and how
    many of them are diversified picks (the rest are dups backfill).
    O(n·k) — n is bounded by the ShortCircuit candidate cap per
    segment, k by the page size.
    """
    n = int(doc_ids.size)
    if n == 0 or k <= 0:
        return np.empty(0, dtype=np.int64), 0
    pen = np.zeros(n, dtype=np.float64)
    alive = np.ones(n, dtype=bool)
    raw = scores.astype(np.float64)
    selected: list[int] = []
    dups: list[int] = []
    taken_sims: list[int] = []
    while len(selected) < k and alive.any():
        adj = np.where(alive, raw / (1.0 + pen), -np.inf)
        best = adj.max()
        cand_idx = np.nonzero(alive & (adj == best))[0]
        i = int(cand_idx[np.argmin(doc_ids[cand_idx])])
        alive[i] = False
        if simhashes is not None:
            h = int(simhashes[i])
            if h != 0 and any(
                    bin(h ^ t).count("1") <= hamming_k
                    for t in taken_sims):
                dups.append(i)
                continue
            if h != 0:
                taken_sims.append(h)
        selected.append(i)
        # bucket counts bump by one -> penalty grows for every doc
        # sharing a bucket with the pick (update_counts + the lazy
        # re-adjust loop, collapsed into an eager vectorized update)
        for c, p in enumerate(penalties):
            pen[buckets[c] == buckets[c][i]] += p
    order = selected + dups[: max(0, k - len(selected))]
    return np.asarray(order, dtype=np.int64), len(selected)
