"""Round-6 optimization internals, pinned against reference paths.

Each optimization that changed an operator's internals this round gets
a direct equivalence test here (beyond the e2e suites that also cover
them): batch block decode vs per-block decode, the varbyte fast path vs
the generic encoder, and the Arrow tokenize/factorize vs the object
path; since then also the one-pass position decode vs the per-block
one and the Arrow-buffer posting builder vs per-block bytes lists. All
pure-Python — no Spark session needed.
"""

import numpy as np
import pytest


def _random_postings(rng, nblocks=37, block=128):
    """Build a TermPostings with random doc gaps/tfs/fnids."""
    from cuely_spark.codec import encode_docs, encode_tfs
    from cuely_spark.queryengine.kernel import TermPostings

    first, last, ndocs = [], [], []
    docs_b, tfs_b, fn_b = [], [], []
    doc = -1
    for b in range(nblocks):
        n = int(rng.integers(1, block + 1)) if b == nblocks - 1 else block
        gaps = rng.integers(1, 2000, size=n)
        ds = doc + np.cumsum(gaps)
        doc = int(ds[-1])
        tfs = rng.integers(1, 300, size=n).astype(np.int64)
        fns = rng.integers(0, 256, size=n).astype(np.uint8)
        first.append(int(ds[0]))
        last.append(int(ds[-1]))
        ndocs.append(n)
        docs_b.append(encode_docs(ds))
        tfs_b.append(encode_tfs(tfs))
        fn_b.append(fns.tobytes())
    return TermPostings(first, last, ndocs, docs_b, tfs_b, fn_b)


def test_decode_blocks_batch_equals_per_block():
    """The joined-stream batch decode must equal per-block decoding for
    every subset shape (all blocks, random subsets, singletons)."""
    rng = np.random.default_rng(7)
    tp = _random_postings(rng)

    def reference(blocks):
        parts = [tp.decode_block(int(b)) for b in blocks]
        docs = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        fn = np.concatenate([p[2] for p in parts])
        owner = np.repeat(np.asarray(blocks, dtype=np.int64),
                          [len(p[0]) for p in parts])
        return docs, tfs, fn, owner

    subsets = [np.arange(tp.nblocks),
               np.array([0]), np.array([tp.nblocks - 1]),
               np.array([3, 4, 5]), np.array([0, 11, 36]),
               np.sort(rng.choice(tp.nblocks, size=9, replace=False))]
    for blocks in subsets:
        got = tp.decode_blocks(blocks)
        exp = reference(blocks)
        for g, e in zip(got, exp):
            np.testing.assert_array_equal(g, e)


def test_decode_blocks_empty():
    from cuely_spark.queryengine.kernel import TermPostings

    tp = TermPostings([], [], [], [], [], [])
    d, t, f, o = tp.decode_blocks(np.empty(0, dtype=np.int64))
    assert d.size == t.size == f.size == o.size == 0


@pytest.mark.parametrize("hi", [2, 128, 2**14, 2**30, 2**45, 2**62])
def test_varbyte_fastpath_matches_generic(hi):
    """The size-capped group matrix (and the 1-byte cast fast path)
    must produce the same bytes as a per-value reference encoder."""
    from cuely_spark.codec import varbyte_decode, varbyte_encode

    rng = np.random.default_rng(hi % 97)
    v = rng.integers(0, hi, size=4000).astype(np.uint64)

    def ref_encode(values):
        out = bytearray()
        for x in values:
            x = int(x)
            while True:
                g = x & 0x7F
                x >>= 7
                out.append(g | 0x80 if x else g)
                if not x:
                    break
        return bytes(out)

    assert varbyte_encode(v) == ref_encode(v)
    np.testing.assert_array_equal(varbyte_decode(varbyte_encode(v)), v)


def test_tokenize_arrow_mixed_order_preserved():
    """The take-permutation mixed path must interleave Arrow-split and
    Python-tokenized rows in exact document order, equal to tokenizing
    every row with the exact tokenizer."""
    from cuely_spark.indexer.segment import (_tokenize_flat,
                                             _tokenize_flat_arrow)
    from cuely_spark.tokenizer import tokenize

    texts = ["plain simple words", "C++ and café!", "", "a b c",
             "Ünïcode — heavy; row", "another simple row here",
             "  ", "tail words"]
    flat_a, lens_a = _tokenize_flat_arrow(texts)
    flat_o, lens_o = _tokenize_flat(texts)
    expected = [tokenize(t) for t in texts]
    np.testing.assert_array_equal(lens_a, [len(e) for e in expected])
    np.testing.assert_array_equal(lens_a, lens_o)
    got = flat_a.to_pylist()
    assert got == [tok for e in expected for tok in e]
    assert list(flat_o) == got


def test_arrow_factorize_order_matches_pandas():
    """dictionary_encode + sorted-dictionary rank remap must reproduce
    pandas factorize(sort=True) codes and uniques exactly (byte order
    == codepoint order for valid UTF-8)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng(3)
    vocab = ["zebra", "apple", "Straße", "café", "a", "zz", "1",
             "émile", "中文", "b:compound", "s:stem"]
    toks = [vocab[i] for i in rng.integers(0, len(vocab), size=5000)]
    arr = pa.array(toks, type=pa.string())
    enc = arr.dictionary_encode()
    dic = enc.dictionary
    sidx = pc.array_sort_indices(dic).to_numpy()
    rank = np.empty(sidx.size, dtype=np.int64)
    rank[sidx] = np.arange(sidx.size)
    codes = rank[enc.indices.to_numpy(zero_copy_only=False)]
    uniques = dic.take(sidx).to_pylist()
    pcodes, puniq = pd.factorize(np.asarray(toks, dtype=object),
                                 sort=True)
    np.testing.assert_array_equal(codes, pcodes)
    assert uniques == list(puniq)


def test_composite_sort_matches_lexsort():
    """The packed-uint64 radix argsort must order (code, doc, pos)
    exactly like the three-key lexsort it replaced."""
    rng = np.random.default_rng(11)
    n = 20000
    codes = rng.integers(0, 5000, size=n).astype(np.int64)
    docs = rng.integers(100, 90000, size=n).astype(np.int64)
    pos = rng.integers(0, 400, size=n).astype(np.int64)
    dmin = int(docs.min())
    bits_d = int(docs.max() - dmin + 1).bit_length()
    bits_p = int(pos.max() + 1).bit_length()
    key = ((codes.astype(np.uint64) << np.uint64(bits_d + bits_p))
           | ((docs - dmin).astype(np.uint64) << np.uint64(bits_p))
           | pos.astype(np.uint64))
    got = np.argsort(key, kind="stable")
    exp = np.lexsort((pos, docs, codes))
    # orders must agree on the sort keys (ties may permute equal rows,
    # but (code, doc, pos) triples here are almost surely unique; check
    # the sorted key tuples instead of raw indices to be exact)
    trip = lambda o: list(zip(codes[o], docs[o], pos[o]))  # noqa: E731
    assert trip(got) == trip(exp)


# ---- one-pass positions decode and the one posting builder ----------

def _ref_positions_flat(tp, cand_docs):
    """Per-block positions_flat as it was before the one-pass decode:
    decode_block + decode_positions per overlapping block."""
    from cuely_spark.codec import decode_positions

    buf, off = tp.positions
    flat_parts, doc_parts, cnt_parts = [], [], []
    for b in tp.blocks_overlapping(cand_docs):
        docs, tfs, _ = tp.decode_block(int(b))
        poss = decode_positions(buf[off[b]:off[b + 1]], tfs)
        ends = np.cumsum(tfs)
        starts = ends - tfs
        ins = np.searchsorted(cand_docs, docs)
        ok = ins < cand_docs.size
        ok[ok] = cand_docs[ins[ok]] == docs[ok]
        sel = np.flatnonzero(ok)
        if sel.size == 0:
            continue
        stf = tfs[sel]
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
    counts[np.searchsorted(cand_docs, np.concatenate(doc_parts))] = \
        np.concatenate(cnt_parts)
    return np.concatenate(flat_parts), counts


def _ref_class():
    from cuely_spark.queryengine.kernel import TermPostings

    class RefPostings(TermPostings):
        positions_flat = _ref_positions_flat

    return RefPostings


def _random_positional(rng, nblocks=23, block=128):
    """(bytes-list TermPostings, per-block reference class copy) with
    random docs, tfs and ascending positions."""
    from cuely_spark.codec import encode_docs, encode_positions, encode_tfs
    from cuely_spark.queryengine.kernel import TermPostings

    cols = [[] for _ in range(7)]
    doc = -1
    for b in range(nblocks):
        n = int(rng.integers(1, block + 1)) if b == nblocks - 1 else block
        ds = doc + np.cumsum(rng.integers(1, 40, size=n))
        doc = int(ds[-1])
        tfs = rng.integers(1, 9, size=n).astype(np.int64)
        pos = np.concatenate([np.sort(rng.choice(300, size=t,
                                                 replace=False))
                              for t in tfs])
        for c, v in zip(cols, (int(ds[0]), int(ds[-1]), n,
                               encode_docs(ds), encode_tfs(tfs),
                               bytes(n), encode_positions(pos, tfs))):
            c.append(v)
    args = cols[:6]
    kw = {"positions": cols[6]}
    return TermPostings(*args, **kw), _ref_class()(*args, **kw)


def test_positions_flat_one_pass_equals_per_block():
    """Every candidate shape: all docs, random subsets, one block's
    docs, candidates absent from the list (count 0), candidates past
    the last block or between blocks, and empty postings."""
    from cuely_spark.queryengine.kernel import TermPostings

    rng = np.random.default_rng(17)
    tp, ref = _random_positional(rng)
    all_docs = tp.decode_blocks(np.arange(tp.nblocks))[0]
    block3 = tp.decode_block(3)[0]
    absent = np.setdiff1d(np.arange(all_docs[-1] + 1), all_docs)
    gap_lo = int(tp.last_doc[5]) + 1  # between blocks 5 and 6
    cands = [all_docs,
             np.sort(rng.choice(all_docs, size=50, replace=False)),
             np.sort(rng.choice(all_docs, size=700, replace=False)),
             block3, block3[:1], all_docs[-1:],
             np.sort(rng.choice(absent, size=40, replace=False)),
             np.union1d(rng.choice(all_docs, size=30),
                        rng.choice(absent, size=30)),
             np.arange(all_docs[-1] + 1, all_docs[-1] + 50),
             np.arange(gap_lo, int(tp.first_doc[6])),
             np.empty(0, dtype=np.int64)]
    for cand in cands:
        cand = np.asarray(cand, dtype=np.int64)
        got = tp.positions_flat(cand)
        exp = ref.positions_flat(cand)
        np.testing.assert_array_equal(got[0], exp[0])
        np.testing.assert_array_equal(got[1], exp[1])
    empty = TermPostings([], [], [], [], [], [], positions=[])
    flat, counts = empty.positions_flat(all_docs[:5])
    assert flat.size == 0 and counts.tolist() == [0] * 5


def _corpus_rows(seed=5, n=3000, segments=2):
    """Posting rows of a small-vocabulary corpus built by the real
    segment builder, split into doc-disjoint segments."""
    import pandas as pd

    from cuely_spark.indexer.segment import build_segment_rows

    rng = np.random.default_rng(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "café", "eps"]
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(2, 14))))
             for _ in range(n)]
    per = n // segments
    parts = []
    for s in range(segments):
        ids = np.arange(s * per, (s + 1) * per, dtype=np.int64)
        rows = build_segment_rows(ids, texts[s * per:(s + 1) * per],
                                  segment_id=s)
        parts.append(rows[rows["kind"] == "p"])
    return pd.concat(parts, ignore_index=True)


def _tp_from_rows(rows, cls=None):
    from cuely_spark.queryengine.kernel import TermPostings

    g = rows.sort_values(["segment_id", "block_id"])
    return (cls or TermPostings)(
        g["first_doc"].to_numpy(), g["last_doc"].to_numpy(),
        g["ndocs"].to_numpy(), list(g["docs"]), list(g["tfs"]),
        list(g["fnids"]), positions=list(g["positions"]),
        block_max_tf=g["block_max_tf"].to_numpy(),
        block_min_fnid=g["block_min_fnid"].to_numpy())


def test_phrase_and_pattern_on_one_pass_decode_equal_per_block():
    """phrase_tf at slop 0 and 2 and pattern_mask give the same counts
    and masks over the one-pass decode as over the per-block one."""
    from cuely_spark.queryengine.kernel import (intersect_units,
                                                pattern_mask, phrase_tf)

    rows = _corpus_rows()
    terms = ["alpha", "beta", "cafe"]
    new = [_tp_from_rows(rows[rows["term"] == t]) for t in terms]
    ref = [_tp_from_rows(rows[rows["term"] == t], _ref_class())
           for t in terms]
    cand = intersect_units([("one", tp) for tp in new])
    every = np.arange(int(rows["last_doc"].max()) + 1, dtype=np.int64)
    assert cand.size > 100
    for slop in (0, 2):
        got = phrase_tf(new, cand, slop)
        assert got.any()
        np.testing.assert_array_equal(got, phrase_tf(ref, cand, slop))
    # pattern matchers probe candidates missing from some terms
    for c in (cand, every):
        got = pattern_mask(new, c, [1, 3], True, False)
        np.testing.assert_array_equal(
            got, pattern_mask(ref, c, [1, 3], True, False))
    assert pattern_mask(new, every, [2, 2], False, False).any()


def test_decode_reuse_equals_fresh_decode():
    """lookup and positions_flat reuse a list's last decode when it
    covers their blocks: any sequence of calls answers as a fresh list
    does, and a phrase (conjunction, positions, fnids of the matches)
    decodes each term's blocks once."""
    from cuely_spark.queryengine.kernel import (TermPostings,
                                                intersect_units, phrase_tf)

    rng = np.random.default_rng(29)
    tp, _ = _random_positional(rng)

    def fresh():
        return TermPostings.from_streams(
            tp.first_doc, tp.last_doc, tp.ndocs, tp.docs, tp.tfs,
            tp.fnids, positions=tp.positions)

    all_docs = fresh().decode_blocks(np.arange(tp.nblocks))[0]
    cands = [all_docs, all_docs[::3], all_docs[:40], all_docs[-1:],
             np.sort(rng.choice(all_docs, size=60, replace=False)),
             np.arange(all_docs[-1] + 1, all_docs[-1] + 9),
             np.empty(0, dtype=np.int64)]
    for i in rng.permutation(4 * len(cands)):
        cand = cands[i % len(cands)]
        if i % 2:
            tf, fn, hit = tp.lookup(cand)
            etf, efn, ehit = fresh().lookup(cand)
            # tfs and fnids are defined where found
            got = hit, tf[hit], fn[hit]
            exp = ehit, etf[ehit], efn[ehit]
        else:
            got, exp = tp.positions_flat(cand), fresh().positions_flat(cand)
        for g, e in zip(got, exp):
            np.testing.assert_array_equal(g, e)

    calls = []

    class Counting(TermPostings):
        __slots__ = ()

        def decode_blocks(self, blocks):
            calls.append(self)
            return super().decode_blocks(blocks)

    rows = _corpus_rows()
    terms = ["alpha", "beta", "cafe"]
    tps = [_tp_from_rows(rows[rows["term"] == t], Counting) for t in terms]
    cand = intersect_units([("one", t) for t in tps])
    tf = phrase_tf(tps, cand)
    tps[0].lookup(cand[tf > 0])
    assert tf.any() and len(calls) == len(set(calls)) == len(terms)


def _blocks_of(stream):
    buf, off = stream
    return [bytes(buf[off[i]:off[i + 1]]) for i in range(off.size - 1)]


def _assert_same_postings(a, b):
    for attr in ("first_doc", "last_doc", "ndocs", "block_max_tf",
                 "block_min_fnid"):
        np.testing.assert_array_equal(getattr(a, attr), getattr(b, attr))
    for attr in ("docs", "tfs", "fnids", "positions"):
        assert _blocks_of(getattr(a, attr)) == _blocks_of(getattr(b, attr))
    everything = np.arange(a.nblocks)
    for x, y in zip(a.decode_blocks(everything),
                    b.decode_blocks(everything)):
        np.testing.assert_array_equal(x, y)


@pytest.mark.parametrize("binary", ["binary", "large_binary"])
def test_posting_builder_layouts_agree(binary):
    """The Arrow-buffer builder gives the same TermPostings as bytes
    lists, for binary and large_binary columns, whole-index and
    per-segment, whatever the input row order and chunking."""
    import pyarrow as pa

    from cuely_spark.queryengine.executor import (_POSTING_COLS,
                                                  _arrow_postings,
                                                  _concat_arrow_postings)

    rows = _corpus_rows()
    cols = _POSTING_COLS + ["positions"]
    shuffled = rows.sample(frac=1.0, random_state=3)[cols]
    tbl = pa.Table.from_pandas(shuffled, preserve_index=False)
    if binary == "large_binary":
        tbl = tbl.cast(pa.schema([
            pa.field(f.name, pa.large_binary()) if f.type == pa.binary()
            else f for f in tbl.schema]))
    # several chunks, like the batches of one mapInArrow partition
    tbl = pa.Table.from_batches(tbl.to_batches(max_chunksize=7))
    per_seg = _arrow_postings(tbl)
    assert sorted(per_seg) == [0, 1]
    for seg, by_term in per_seg.items():
        seg_rows = rows[rows["segment_id"] == seg]
        assert sorted(by_term) == sorted(seg_rows["term"].unique())
        for term, tp in by_term.items():
            _assert_same_postings(
                tp, _tp_from_rows(seg_rows[seg_rows["term"] == term]))
    whole = _concat_arrow_postings(tbl)
    assert sorted(whole) == sorted(rows["term"].unique())
    for term, tp in whole.items():
        _assert_same_postings(tp, _tp_from_rows(rows[rows["term"] == term]))
        # the whole-index list equals its per-segment lists joined
        np.testing.assert_array_equal(
            tp.positions_flat(tp.decode_blocks(np.arange(tp.nblocks))[0])[0],
            np.concatenate([
                s[term].positions_flat(
                    s[term].decode_blocks(np.arange(s[term].nblocks))[0])[0]
                for s in per_seg.values()]))
    # no positions column read -> no positions stream
    no_pos = _arrow_postings(tbl.drop_columns(["positions"]))
    assert all(tp.positions is None for by_term in no_pos.values()
               for tp in by_term.values())
