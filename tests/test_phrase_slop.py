"""Phrase slop: parser syntax + budgeted-chain semantics.

Reference: tantivy slop phrases,
crates/tantivy/src/query/phrase_query/phrase_scorer.rs:349-460. The
engine's tf (distinct last-word anchors reachable within the budget) is
a documented deviation for >2 terms — the reference's own count is
approximate there (phrase_scorer.rs:225-230 comment).
"""

import numpy as np
import pytest

from cuely_spark.oracle import OracleIndex
from cuely_spark.queryengine.parser import MAX_SLOP, parse_query


def test_parser_slop_suffix():
    pq = parse_query('"scan merge"~2 table')
    assert pq.clauses[0].kind == "phrase"
    assert pq.clauses[0].slop == 2
    assert pq.clauses[1].kind == "term"

    # no suffix -> slop 0; ~0 -> slop 0
    assert parse_query('"a b"').clauses[0].slop == 0
    assert parse_query('"a b"~0').clauses[0].slop == 0
    # cap at the reference's u8 carrier
    assert parse_query('"a b"~9999').clauses[0].slop == MAX_SLOP
    # a bare ~ or non-numeric suffix is NOT slop syntax
    pq = parse_query('"a b"~x')
    assert pq.clauses[0].slop == 0
    # same phrase at different slops = distinct clauses (no dedup)
    pq = parse_query('"a b" "a b"~1')
    assert len([c for c in pq.clauses if c.kind == "phrase"]) == 2


def test_parser_slop_single_token_collapses_to_term():
    pq = parse_query('"merge"~3')
    assert pq.clauses[0].kind == "term"


@pytest.mark.parametrize("q", ['alpha -"beta gamma"',
                               'alpha -"beta gamma"~2'])
def test_parser_negated_phrase_raises(q):
    """A MustNot clause excludes docs holding all its words, so it
    cannot express a phrase: `-"…"` raises and names the clause instead
    of negating the wrong pair and requiring a `"` token."""
    with pytest.raises(ValueError, match='negated phrase.*"beta gamma"'):
        parse_query(q)


@pytest.mark.parametrize("q, phrase", [('a --"b c"', '"b c"'),
                                       ('a --"b c"~2^3', '"b c"~2^3')])
def test_parser_escaped_minus_phrase(q, phrase):
    """`--"…"` keeps the phrase whole: the `--` escape's literal `-`
    term (as `--b` gives `-` and `b`) plus the phrase with its glued
    suffixes, as if the two stood apart."""
    assert parse_query(q) == parse_query("a -- " + phrase)
    pq = parse_query(q)
    assert [(c.kind, c.tokens) for c in pq.clauses] == [
        ("term", ("a",)), ("term", ("-",)), ("phrase", ("b", "c"))]


def test_parser_escaped_minus_term_keeps_boost():
    """`--b^2` boosts its terms as the bareword `b^2` does: the `^2`
    that the boost split strips is not dropped by the `--` escape."""
    assert [(c.tokens, c.boost) for c in parse_query("a b^2").clauses] \
        == [(("a",), 1.0), (("b",), 2.0)]
    assert [(c.kind, c.tokens, c.boost)
            for c in parse_query("a --b^2").clauses] == [
        ("term", ("a",), 1.0), ("term", ("-",), 2.0),
        ("term", ("b",), 2.0)]


def test_slop_widens_membership_monotonically():
    texts = [
        "scan the merge",        # distance 2 -> slop >= 1 matches
        "scan merge",            # exact
        "merge scan",            # reversed, |delta| = 2
        "scan x y z merge",      # distance 4 -> slop >= 3
        "scan only here",
    ]
    oi = OracleIndex(list(range(len(texts))), texts)
    prev: set[int] = set()
    sizes = []
    for slop in (0, 1, 2, 3, 4):
        q = '"scan merge"' + (f"~{slop}" if slop else "")
        docs, _ = oi.search(q, k=10)
        cur = set(docs.tolist())
        assert prev <= cur, f"slop {slop} lost matches"
        prev = cur
        sizes.append(len(cur))
    assert sizes[0] == 1          # exact only
    assert sizes[1] == 2          # + "scan the merge"
    assert sizes[2] == 3          # + reversed
    assert sizes[3] == 4          # + distance-4
    assert prev == {0, 1, 2, 3}


def test_slop_zero_equals_exact_counts():
    rng = np.random.default_rng(42)
    vocab = ["a", "b", "c"]
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(1, 25))))
             for _ in range(100)]
    oi = OracleIndex(list(range(100)), texts)
    exact = oi._phrase_docs(("a", "b"))
    dp0 = oi._phrase_docs(("a", "b"), 0)
    assert exact == dp0


def test_parser_phrase_prefix():
    pq = parse_query('"new yo"*')
    c = pq.clauses[0]
    assert c.kind == "phrase" and c.prefix and c.tokens == ("new", "yo")
    # single-word quoted prefix collapses to a prefix term
    c = parse_query('"yo"*')
    assert c.clauses[0].kind == "term" and c.clauses[0].prefix
    # star after slop is not a combined form; slop wins, star splits off
    pq = parse_query('"a b"~1')
    assert pq.clauses[0].slop == 1 and not pq.clauses[0].prefix


def test_phrase_prefix_kernel_semantics():
    """pphrase spec: membership = fixed phrase followed by any
    expansion; tf = count of such positions; weight from fixed terms."""
    import numpy as np

    from cuely_spark.bm25 import Bm25Weight
    from cuely_spark.indexer.segment import build_segment_rows
    from cuely_spark.queryengine.kernel import segment_topk
    from tests.test_kernel_fuzz import _tp_from_rows, wfn
    from cuely_spark.tokenizer import tokenize

    texts = [
        "key scan done",      # key + s-word
        "key sort here",      # key + other s-word
        "key done scan",      # key but not followed by s-word
        "scan key stream",    # key followed by s-word (stream)
        "key key scan sort",  # two matches? key@1 scan yes; key@0 key no
    ]
    n = len(texts)
    rows = build_segment_rows(np.arange(n, dtype=np.int64), texts,
                              segment_id=0)
    p = rows[rows["kind"] == "p"]
    toks = [tokenize(t) for t in texts]
    avgfn = sum(len(t) for t in toks) / n
    exps = ["scan", "sort", "stream"]
    fixed = [_tp_from_rows(p, "key")]
    etps = [_tp_from_rows(p, e) for e in exps]
    w = Bm25Weight(1, n, avgfn)
    w.weight = np.float32(1.7)  # fixed-term idf stand-in
    docs, scores = segment_topk(
        [("pphrase", (fixed, etps), w)], [], k=n)

    def brute(tt):
        return sum(1 for i in range(len(tt) - 1)
                   if tt[i] == "key" and any(
                       tt[i + 1] == e for e in exps))
    want = {d: brute(toks[d]) for d in range(n) if brute(toks[d])}
    assert set(docs.tolist()) == set(want)
    # tf drives the score: doc with 2 matches scores via tf=2
    for d, s in zip(docs.tolist(), scores.tolist()):
        tf = want[d]
        exp_s = w.score(np.array([wfn(toks[d])]), np.array([tf]))[0]
        np.testing.assert_allclose(s, exp_s, rtol=1e-6)
