"""Score explanation trees — the tantivy/Lucene `explain` surface.

Produces, for one (query, document) pair, the tree of score
contributions the kernel actually computed: the same parse, the same
plan (expansions, compounds, weights), the same per-clause f32/f64
arithmetic, evaluated for a single document via pruned per-doc posting
lookups (no scan, no Spark job).

Reference (strings and tree shape copied deliberately so output is
recognizable to tantivy/Lucene users):

- Explanation tree object:
  crates/tantivy/src/query/explanation.rs:18-82 (value, description,
  details, context; `to_pretty_json`; `does_not_match` error).
- BM25 leaf: crates/tantivy/src/query/bm25.rs:198-228 — "TermQuery,
  product of..." = (K1+1) x idf x tf_factor, with the Lucene-format
  freq/k1/b/dl/avgdl constants.
- Term wrapper: term_weight.rs:26-35 (adds "Term=..." context).
- Boolean root: boolean_query/boolean_weight.rs:187-206
  ("BooleanClause. sum of ..." over positive-occur children;
  "BooleanQuery with no scoring" -> 1.0).
- Boost: boost_query.rs:73-80 ("Boost x{b} of ...").
- Const: const_score_query.rs:71-83 ("Const" wrapping the underlying).
- Phrase: phrase_query/phrase_weight.rs:86-103 ("Phrase Scorer" with
  the similarity explain at freq = phrase_count).
- AllQuery: all_query.rs:32-37 ("AllQuery", 1.0).

One deliberate divergence: tantivy's BoostWeight.explain recomputes the
child at boost=1 and multiplies, which can differ from the scorer by an
ulp. Here the Boost node's value is the KERNEL's boosted contribution
(the number that actually entered the doc's total); the child detail is
the unboosted recomputation — so the root value always equals the
engine score exactly, and `value ~= boost x detail.value` up to
float rounding.
"""

from __future__ import annotations

import json

import numpy as np

from .. import B, K1
from ..bm25 import Bm25Weight
from ..fieldnorm import id_to_fieldnorm

__all__ = ["Explanation", "DoesNotMatch", "explain_doc"]


class DoesNotMatch(ValueError):
    """The document does not match the query (explanation.rs:8-10)."""

    def __init__(self, doc_id: int):
        super().__init__(f"Document #({doc_id}) does not match")
        self.doc_id = doc_id


class Explanation:
    """Score-explanation tree node (explanation.rs:18-82)."""

    __slots__ = ("value", "description", "details", "context")

    def __init__(self, description: str, value: float):
        self.description = description
        self.value = float(value)
        self.details: list[Explanation] | None = None
        self.context: list[str] | None = None

    def add_detail(self, child: "Explanation") -> "Explanation":
        if self.details is None:
            self.details = []
        self.details.append(child)
        return self

    def add_const(self, name: str, value: float) -> "Explanation":
        return self.add_detail(Explanation(name, value))

    def add_context(self, context: str) -> "Explanation":
        if self.context is None:
            self.context = []
        self.context.append(context)
        return self

    def to_dict(self) -> dict:
        out: dict = {"value": self.value, "description": self.description}
        if self.details is not None:
            out["details"] = [d.to_dict() for d in self.details]
        if self.context is not None:
            out["context"] = list(self.context)
        return out

    def to_pretty_json(self) -> str:
        return json.dumps(self.to_dict(), indent=2)

    def leaves(self) -> list["Explanation"]:
        """Flatten: all leaf-level "TermQuery, product of..." nodes in
        tree order (gate/debug helper)."""
        if self.description.startswith("TermQuery"):
            return [self]
        out: list[Explanation] = []
        for d in self.details or []:
            out.extend(d.leaves())
        return out

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Explanation({self.to_pretty_json()})"


def _bm25_leaf(w: Bm25Weight, fnid: int, tf: int, avg_fieldnorm: float,
               dtype) -> Explanation:
    """The Lucene-format BM25 leaf (bm25.rs:198-228): score =
    (K1+1) x idf x (freq / (freq + norm)); `w` must be UNBOOSTED so the
    idf detail shows the true idf."""
    d = dtype
    norm = w.cache[int(fnid)]
    tfd = d(tf)
    right = d(tfd / (tfd + norm))
    score = float(w.score(np.array([fnid]), np.array([tf]))[0])
    tf_node = Explanation(
        "freq / (freq + k1 * (1 - b + b * dl / avgdl))", float(right))
    tf_node.add_const("freq, occurrences of term within document",
                      float(tf))
    tf_node.add_const("k1, term saturation parameter", K1)
    tf_node.add_const("b, length normalization parameter", B)
    tf_node.add_const("dl, length of field",
                      float(id_to_fieldnorm(int(fnid))))
    tf_node.add_const("avgdl, average length of field",
                      float(avg_fieldnorm))
    node = Explanation("TermQuery, product of...", score)
    node.add_const("(K1+1)", K1 + 1.0)
    node.add_const(
        "idf, computed as log(1 + (N - n + 0.5) / (n + 0.5))",
        float(w.weight))
    node.add_detail(tf_node)
    return node


def _boost_wrap(node: Explanation, boost: float,
                boosted_value: float) -> Explanation:
    """BoostQuery wrapper (boost_query.rs:73-80); value is the kernel's
    boosted contribution — see the module docstring's divergence note."""
    if boost == 1.0:
        return node
    wrap = Explanation(f"Boost x{boost} of ...", float(boosted_value))
    wrap.add_detail(node)
    return wrap


def _lookup_one(tp, doc: int):
    """(tf, fnid, found) of a single doc in one TermPostings."""
    if tp is None or tp.nblocks == 0:
        return 0, 0, False
    cand = np.array([doc], dtype=np.int64)
    tfs, fnids, found = tp.lookup(cand)
    if not bool(found[0]):
        return 0, 0, False
    return int(tfs[0]), int(fnids[0]), True


def _excluded(neg_groups: list, doc: int) -> bool:
    """MustNot: the doc matches a negative clause when it contains ALL
    of the clause's terms (kernel.segment_topk mustnot semantics)."""
    for group in neg_groups:
        if not group or any(t.nblocks == 0 for t in group):
            continue
        if all(_lookup_one(t, doc)[2] for t in group):
            return True
    return False


def explain_doc(reader, query, doc_id: int, dtype=np.float32,
                occur: str = "must", should=None,
                tie_breaker: float = 0.0,
                const_score: float | None = None,
                compound_terms: bool | None = None,
                stemmed: bool | None = None, lang: str | None = None,
                fuzzy_transpositions: bool = False) -> Explanation:
    """Explain `doc_id`'s score under `query` — same planning and
    arithmetic as IndexReader.search_local, evaluated for one doc.

    Raises :class:`DoesNotMatch` if the doc does not match (tantivy
    Weight::explain contract, explanation.rs:8-10). The root node's
    value equals the score search()/search_local() would produce for
    this doc at the same dtype, exactly (pinned by tests).
    """
    from .executor import (Expansion, _group_arrow_postings, _make_specs,
                           _match_all_score, _range_fns)
    from .kernel import phrase_tf

    d = dtype
    doc = int(doc_id)
    plan = reader._plan(
        query, dtype=dtype, occur=occur, should=should,
        compound_terms=compound_terms, stemmed=stemmed, lang=lang,
        fuzzy_transpositions=fuzzy_transpositions,
        tie_breaker=tie_breaker, const_score=const_score)
    pq, spq, union = plan.pq, plan.spq, plan.union
    if not 0 <= doc < reader.num_docs:
        raise DoesNotMatch(doc)

    # ---- owning segment + its pruned postings ------------------------
    def _seg_of(doc: int) -> int:
        if reader._offsets:
            # offset mode: doc_id = offsets[seg] + __ord; the owner is
            # the segment with the largest offset <= doc
            best, best_off = 0, -1
            for s, off in reader._offsets.items():
                off = int(off)
                if off <= doc and off > best_off:
                    best, best_off = int(s), off
            return best
        # doc_id-column mode: the row store is hive-partitioned by
        # segment_id and doc-sorted within, so this point read prunes
        # to one row-group via parquet doc_id min/max stats
        import pyarrow.dataset as ds

        dset = ds.dataset(reader._turns_path, format="parquet",
                          partitioning="hive")
        t = dset.to_table(columns=["segment_id"],
                          filter=ds.field("doc_id") == doc)
        if t.num_rows == 0:
            raise DoesNotMatch(doc)
        return int(t["segment_id"][0].as_py())

    seg = _seg_of(doc)
    if reader._segment_map:
        # merged index: _seg_of resolves against the row store (doc_id
        # mode) or segment_offsets (offsets mode), both of which keep
        # PRE-merge segment ids; the postings are keyed by the merged
        # kernel segment, so translate through segment_map either way
        sm = reader._segment_map
        seg = int(sm.get(str(seg), sm.get(seg, seg)))
    cand = np.array([doc], dtype=np.int64)

    def _range_ok() -> bool:
        fns = _range_fns(plan, seg)
        return fns is None or bool(fns[0](cand)[0])

    unscored_nodes: list[Explanation] = []
    for c in pq.positive:
        if c.kind == "range":
            n = Explanation("Unscored Must (range filter)", 0.0)
            n.add_context(f"Range={c.tokens[0]} "
                          f"{'[' if c.lo_inc else '('}{c.lo}"
                          f" TO {c.hi}{']' if c.hi_inc else ')'}")
            unscored_nodes.append(n)
        elif c.kind == "exists":
            n = Explanation("Unscored Must (exists filter)", 0.0)
            n.add_context(f"Exists={'-' if c.neg else ''}"
                          f"{c.tokens[0]}:*")
            unscored_nodes.append(n)

    if plan.match_all:
        # match-all path (executor._search_all_local semantics)
        if not _range_ok():
            raise DoesNotMatch(doc)
        neg_terms = list({t for c in pq.negative for t in c.tokens})
        by_term = {}
        if neg_terms:
            tbl = reader._local_postings(neg_terms, False)
            by_term = {int(s): bt
                       for s, bt in _group_arrow_postings(tbl)
                       }.get(seg, {})
        negs = [[by_term.get(t) for t in c.tokens]
                for c in pq.negative]
        for group in negs:
            if all(g is not None and _lookup_one(g, doc)[2]
                   for g in group) and group:
                raise DoesNotMatch(doc)
        value = _match_all_score(plan)
        details = []
        for c in pq.positive:
            if c.kind == "all":
                details.append(_boost_wrap(Explanation("AllQuery", 1.0),
                                           c.boost, 1.0 * c.boost))
        details += unscored_nodes
        if const_score is not None:
            root = Explanation("Const", float(const_score))
            inner = Explanation("BooleanClause. sum of ...",
                                sum(c.boost for c in pq.positive
                                    if c.kind == "all"))
            for det in details:
                inner.add_detail(det)
            root.add_detail(inner)
            return root
        if len(details) == 1:
            return details[0]
        root = Explanation("BooleanClause. sum of ...", float(value))
        for det in details:
            root.add_detail(det)
        return root

    # ---- same plan and posting read as search_local -----------------
    if plan.dead:
        raise DoesNotMatch(doc)
    weights, compounds = plan.weights, plan.compounds
    tbl = reader._local_postings(plan.terms, plan.positions)
    by_term = {int(s): bt
               for s, bt in _group_arrow_postings(tbl)}.get(seg, {})
    specs, negs = _make_specs(pq, weights, by_term, dtype,
                              compounds=compounds)

    def _term_node(tok: str, tp, w_boosted, boost: float,
                   contrib: float) -> Explanation:
        tf, fnid, _ = _lookup_one(tp, doc)
        w0 = weights.get(tok)
        if w0 is None or not isinstance(w0, Bm25Weight):
            w0 = w_boosted
        # field-scoped keys display THEIR field's avgdl (the score
        # itself always comes from w0's cache, which is field-correct)
        leaf = _bm25_leaf(w0, fnid, tf, reader._avgfn_for_key(tok), d)
        leaf.add_context(f"Term={tok!r}")
        return _boost_wrap(leaf, boost, contrib)

    # ---- union (Should / DisjunctionMax) -----------------------------
    if union:
        if _excluded(negs, doc):
            raise DoesNotMatch(doc)
        total = d(0.0)
        smax = d(0.0)
        details = []
        matched = False
        for c, (kind, tp, w) in zip(
                [c for c in pq.positive], specs):
            tok = c.tokens[0]
            tf, fnid, found = _lookup_one(tp, doc)
            if not found:
                continue
            matched = True
            contrib = d(w.score(np.array([fnid]), np.array([tf]))[0])
            total = d(total + contrib)
            smax = max(smax, contrib)
            details.append(_term_node(tok, tp, w, c.boost,
                                      float(contrib)))
        if not matched:
            raise DoesNotMatch(doc)
        if occur == "dismax":
            value = d(smax + d(tie_breaker) * d(total - smax))
            root = Explanation(
                "DisjunctionMax, max plus tie_breaker * (sum - max) "
                "of ...", float(value))
            root.add_const("tie_breaker", float(tie_breaker))
        else:
            root = Explanation("BooleanClause. sum of ...", float(total))
        for det in details:
            root.add_detail(det)
        return root

    # ---- conjunctive (Must) membership, kernel order -----------------
    # (1) term-containment intersection incl. or/termset any-member
    pos_scored = [c for c in pq.positive
                  if c.kind not in ("range", "exists")]
    for (kind, tp, w) in specs:
        if kind == "all":
            continue
        if kind in ("or", "termset"):
            if not any(_lookup_one(mtp, doc)[2] for mtp, _ in tp):
                raise DoesNotMatch(doc)
        elif kind == "pphrase":
            fixed, exps = tp
            if not all(_lookup_one(t, doc)[2] for t in fixed):
                raise DoesNotMatch(doc)
            if not any(_lookup_one(e, doc)[2] for e in exps):
                raise DoesNotMatch(doc)
        else:
            tps = tp if isinstance(tp, list) else [tp]
            if not all(_lookup_one(t, doc)[2] for t in tps):
                raise DoesNotMatch(doc)
    # (2) unscored range filters  (3) MustNot
    if not _range_ok():
        raise DoesNotMatch(doc)
    if _excluded(negs, doc):
        raise DoesNotMatch(doc)

    # (4) score clause by clause in query order (f32 accumulation)
    pos_idx = [i for i, cc in enumerate(pq.clauses) if cc.kind != "not"]
    scored_pos = [j for j, cc in enumerate(pq.positive)
                  if cc.kind not in ("range", "exists")]
    total = np.zeros(1, dtype=d)
    details = []
    for sj, (c, (kind, tp, w)) in enumerate(zip(pos_scored, specs)):
        if kind == "filter":
            n = Explanation("Unscored Must (attribute filter)", 0.0)
            n.add_context(f"Term={c.tokens[0]!r}")
            details.append(n)
            continue
        if kind in ("termset", "all"):
            contrib = d(w)
            total = (total + contrib).astype(d)
            desc = ("TermSetQuery, const 1.0 (member scores ignored)"
                    if kind == "termset" else "AllQuery")
            node = Explanation(desc, 1.0)
            if kind == "termset":
                node.add_context(
                    "Terms=" + "|".join(c.tokens))
            details.append(_boost_wrap(node, c.boost, float(contrib)))
            continue
        if kind == "term":
            tf, fnid, _ = _lookup_one(tp, doc)
            contrib = w.score(np.array([fnid]), np.array([tf]))
            total = (total + contrib).astype(d)
            details.append(_term_node(c.tokens[0], tp, w, c.boost,
                                      float(contrib[0])))
        elif kind == "or":
            group_val = d(0.0)
            members = []
            alts = (compounds or {}).get(pos_idx[scored_pos[sj]])
            is_exp = isinstance(alts, Expansion)
            alt_tokens = (list(alts) if is_exp
                          else [c.tokens[0]] + list(alts or []))
            for (mtp, mw), mtok in zip(tp, alt_tokens):
                tf, fnid, found = _lookup_one(mtp, doc)
                if not found:
                    contrib_arr = np.zeros(1, dtype=d)
                else:
                    contrib_arr = mw.score(np.array([fnid]),
                                           np.array([tf])).astype(d)
                total = (total + contrib_arr).astype(d)
                if found:
                    group_val = d(group_val + contrib_arr[0])
                    members.append(_term_node(mtok, mtp, mw, c.boost,
                                              float(contrib_arr[0])))
            desc = ("Or (expansion), sum of matching alternatives"
                    if is_exp else
                    "Or (compound augmentation), sum of matching "
                    "alternatives")
            node = Explanation(desc, float(group_val))
            for m in members:
                node.add_detail(m)
            node.add_context(f"Clause={c.tokens[0]!r}")
            details.append(node)
        elif kind == "pphrase":
            fixed, exps = tp
            tfv = 0
            for e in exps:
                if e is not None and e.nblocks:
                    tfv += int(phrase_tf(list(fixed) + [e], cand)[0])
            if tfv == 0:
                raise DoesNotMatch(doc)
            _, fnid, _ = _lookup_one(fixed[0], doc)
            contrib = w.score(np.array([fnid]), np.array([tfv]))
            total = (total + contrib).astype(d)
            w0 = weights.get(("phrase", c.tokens, c.slop, True), w)
            leaf = _bm25_leaf(w0, fnid, tfv,
                              reader._avgfn_for_key(c.tokens[0]), d)
            node = Explanation("PhrasePrefix Scorer", float(contrib[0]))
            node.add_detail(leaf)
            node.add_context("Phrase=\"" + " ".join(c.tokens) + "*\"")
            details.append(_boost_wrap(node, c.boost, float(contrib[0])))
        else:  # phrase
            tfv = int(phrase_tf(tp, cand, getattr(tp, "slop", 0))[0])
            if tfv == 0:
                raise DoesNotMatch(doc)
            _, fnid, _ = _lookup_one(tp[0], doc)
            contrib = w.score(np.array([fnid]), np.array([tfv]))
            total = (total + contrib).astype(d)
            w0 = weights.get(("phrase", c.tokens, c.slop, False), w)
            leaf = _bm25_leaf(w0, fnid, tfv,
                              reader._avgfn_for_key(c.tokens[0]), d)
            node = Explanation("Phrase Scorer", float(contrib[0]))
            node.add_detail(leaf)
            ctx = "Phrase=\"" + " ".join(c.tokens) + "\""
            if c.slop:
                ctx += f"~{c.slop}"
            node.add_context(ctx)
            details.append(_boost_wrap(node, c.boost, float(contrib[0])))

    # (5) Should contributions (never gate membership)
    if spq is not None:
        sspecs, _ = _make_specs(spq, weights, by_term, dtype)
        for c, (kind, tp, w) in zip(
                [c for c in spq.positive
                 if c.kind not in ("range", "exists")], sspecs):
            if kind == "filter":
                continue
            if kind == "term":
                tf, fnid, found = _lookup_one(tp, doc)
                if not found:
                    continue
                contrib = w.score(np.array([fnid]), np.array([tf]))
                total = (total + contrib.astype(d)).astype(d)
                node = _term_node(c.tokens[0], tp, w, c.boost,
                                  float(contrib[0]))
                node = _should_wrap(node, float(contrib[0]))
                details.append(node)
            else:  # phrase
                tps = tp if isinstance(tp, list) else [tp]
                if not all(_lookup_one(t, doc)[2] for t in tps):
                    continue
                tfv = int(phrase_tf(tp, cand,
                                    getattr(tp, "slop", 0))[0])
                if tfv == 0:
                    continue
                _, fnid, _ = _lookup_one(tp[0], doc)
                contrib = w.score(np.array([fnid]), np.array([tfv]))
                total = (total + contrib.astype(d)).astype(d)
                w0 = weights.get(("phrase", c.tokens, c.slop, False),
                                 w)
                leaf = _bm25_leaf(w0, fnid, tfv,
                                  reader._avgfn_for_key(c.tokens[0]),
                                  d)
                node = Explanation("Phrase Scorer", float(contrib[0]))
                node.add_detail(leaf)
                details.append(_should_wrap(
                    _boost_wrap(node, c.boost, float(contrib[0])),
                    float(contrib[0])))

    value = float(total[0])
    details += unscored_nodes
    if const_score is not None:
        root = Explanation("Const", float(d(const_score)))
        inner = Explanation("BooleanClause. sum of ...", value)
        for det in details:
            inner.add_detail(det)
        root.add_detail(inner)
        return root
    if (len(details) == 1 and not pq.negative
            and not unscored_nodes):
        return details[0]
    root = Explanation("BooleanClause. sum of ...", value)
    for det in details:
        root.add_detail(det)
    return root


def _should_wrap(node: Explanation, value: float) -> Explanation:
    wrap = Explanation("Should (optional, scored)", float(value))
    wrap.add_detail(node)
    return wrap
