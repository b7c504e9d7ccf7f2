"""Delta-gap + varbyte posting compression (vectorized numpy).

The reference bit-packs 128-doc blocks with strict deltas and VInt tail
blocks (crates/tantivy/src/postings/compression/mod.rs:33-73,
crates/tantivy/src/postings/serializer.rs:429-451). Per the build rule we
use an explicit delta-gap + varbyte codec for every block (Parquet's
page compression adds the entropy coding the reference gets from
bitpacking). Format: little-endian 7-bit groups, MSB = continuation.

All encode/decode paths are numpy-vectorized — no per-value Python loop —
so they run at Arrow-batch speed inside pandas UDFs.
"""

from __future__ import annotations

import numpy as np

_MAX_GROUPS = 10  # enough for u64


def varbyte_encode(values: np.ndarray, nb: np.ndarray | None = None) -> bytes:
    """Encode a uint array as varbyte. Vectorized.

    The group matrix is sized to the LARGEST value actually present
    (pre-computed per-value byte counts `nb` may be passed in to avoid
    recomputing them); the common all-one-byte case (tf-1 streams,
    dense doc gaps, position deltas) short-circuits to a plain byte
    cast. Output is bit-identical for any shape of input.
    """
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    if nb is None:
        nb = varbyte_nbytes(v)
    maxg = int(nb.max())
    if maxg == 1:
        return v.astype(np.uint8).tobytes()
    # 7-bit groups, little-endian
    groups = np.empty((n, maxg), dtype=np.uint8)
    rem = v.copy()
    for g in range(maxg):
        groups[:, g] = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem >>= np.uint64(7)
    # continuation bits: groups before the last get MSB set
    col = np.arange(maxg)
    keep = col[None, :] < nb[:, None]
    cont = col[None, :] < (nb - 1)[:, None]
    groups = np.where(cont, groups | 0x80, groups)
    return groups[keep].tobytes()


def varbyte_decode(buf, count: int | None = None) -> np.ndarray:
    """Decode varbyte bytes (or a uint8 array) into a uint64 array.
    Vectorized."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    if not (arr & 0x80).any():
        # no continuation bits: every byte is a value (tf-1 streams,
        # dense gaps) — one cast instead of the 5-pass general path
        out = arr.astype(np.uint64)
        if count is not None:
            assert out.size == count, \
                f"decoded {out.size}, expected {count}"
        return out
    ends = np.flatnonzero(arr < 128)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    idx = np.arange(arr.size, dtype=np.int64)
    lengths = ends - starts + 1
    pos_within = idx - np.repeat(starts, lengths)
    payload = (arr & 0x7F).astype(np.uint64) << (7 * pos_within.astype(np.uint64))
    out = np.add.reduceat(payload, starts)
    if count is not None:
        assert out.size == count, f"decoded {out.size}, expected {count}"
    return out


def varbyte_nbytes(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte count (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    nb = np.ones(v.size, dtype=np.int64)
    rem = v >> np.uint64(7)
    while rem.any():
        nb += (rem != 0).astype(np.int64)
        rem >>= np.uint64(7)
    return nb


def varbyte_encode_split(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Encode `values` once, return per-segment bytes for segments
    beginning at indices `starts` (ascending, starts[0]==0).

    Used to pack ALL posting blocks of a term (or a whole segment) in a
    single vectorized pass — no per-block encode calls.
    """
    nb = varbyte_nbytes(values)
    buf = varbyte_encode(values, nb=nb)
    if len(starts) <= 1:
        return [buf]
    byte_off = np.zeros(len(nb) + 1, dtype=np.int64)
    np.cumsum(nb, out=byte_off[1:])
    bounds = byte_off[np.asarray(starts, dtype=np.int64)]
    ends = np.append(bounds[1:], len(buf))
    return [buf[s:e] for s, e in zip(bounds, ends)]


def delta_encode(sorted_vals: np.ndarray, base: int = -1) -> np.ndarray:
    """Strictly-increasing values -> gaps (first gap relative to `base`,
    so gaps are >= 1 for doc ids; base=-1 makes doc 0 encodable)."""
    v = np.asarray(sorted_vals, dtype=np.int64)
    gaps = np.empty_like(v)
    if v.size == 0:
        return gaps.astype(np.uint64)
    gaps[0] = v[0] - base
    gaps[1:] = np.diff(v)
    return gaps.astype(np.uint64)


def delta_decode(gaps: np.ndarray, base: int = -1) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.int64)
    return (np.cumsum(g) + base).astype(np.int64)


def encode_docs(doc_ids: np.ndarray, base: int = -1) -> bytes:
    return varbyte_encode(delta_encode(doc_ids, base))


def decode_docs(buf: bytes, base: int = -1) -> np.ndarray:
    return delta_decode(varbyte_decode(buf), base)


def encode_tfs(tfs: np.ndarray) -> bytes:
    """Term frequencies are >= 1; stored minus-one (reference:
    crates/tantivy/src/postings/compression/mod.rs:51-73)."""
    t = np.asarray(tfs, dtype=np.uint64)
    return varbyte_encode(t - np.uint64(1))


def decode_tfs(buf: bytes) -> np.ndarray:
    return (varbyte_decode(buf) + np.uint64(1)).astype(np.int64)


def encode_positions(positions_concat: np.ndarray, counts: np.ndarray) -> bytes:
    """Encode concatenated per-doc position lists.

    `positions_concat` is the concatenation of each doc's ascending token
    positions; `counts` (= tfs) gives each doc's list length. Positions
    are delta-encoded *within* each doc (first position absolute),
    mirroring the reference positions stream
    (crates/tantivy/src/positions/mod.rs:1-30).
    """
    p = np.asarray(positions_concat, dtype=np.int64)
    if p.size == 0:
        return b""
    c = np.asarray(counts, dtype=np.int64)
    starts = np.zeros(c.size, dtype=np.int64)
    np.cumsum(c[:-1], out=starts[1:])
    gaps = np.empty_like(p)
    gaps[0] = p[0]
    gaps[1:] = np.diff(p)
    gaps[starts] = p[starts]  # restart delta chain at each doc boundary
    return varbyte_encode(gaps.astype(np.uint64))


def decode_positions(buf: bytes, counts: np.ndarray) -> np.ndarray:
    """Decode back to concatenated absolute positions."""
    gaps = varbyte_decode(buf).astype(np.int64)
    if gaps.size == 0:
        return gaps
    c = np.asarray(counts, dtype=np.int64)
    starts = np.zeros(c.size, dtype=np.int64)
    np.cumsum(c[:-1], out=starts[1:])
    # segmented cumsum: global cumsum minus the cumsum value at each start
    cs = np.cumsum(gaps)
    offsets = np.repeat(cs[starts] - gaps[starts], c)
    return cs - offsets
