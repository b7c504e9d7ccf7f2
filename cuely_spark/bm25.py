"""BM25 weights matching the reference numerically.

Reference: /root/reference/crates/core/src/ranking/bm25.rs (itself the
published tantivy formula):

- k1 = 1.2, b = 0.75 (bm25.rs:8-9)
- idf(df, N) = ln(1 + (N - df + 0.5)/(df + 0.5))   (bm25.rs:23-27)
- per-fieldnorm-id cached norm component:
  norm[id] = k1 * (1 - b + b * decode(id) / avg_fieldnorm)  (bm25.rs:29-43)
- tf_factor(id, tf) = tf*(k1+1) / (tf + norm[id])  (bm25.rs:139-149)
- score = idf * tf_factor; multi-term score = sum over terms in query
  order (bm25.rs:97-102)
- avg_fieldnorm = total_num_tokens / total_num_docs where total_num_docs
  counts ALL docs (bm25.rs:72-79)
- all arithmetic in f32 (`Score = f32`); we default to float32 and allow
  float64 for oracles that compare against SQL engines.
"""

from __future__ import annotations

import numpy as np

from . import B, K1
from .fieldnorm import FIELD_NORMS_TABLE

DTYPE = np.float32


def idf(doc_freq: int, doc_count: int, dtype=DTYPE) -> float:
    # (1.0 + x).ln() exactly as the reference writes it (bm25.rs:23-27);
    # NOT log1p — the two differ in the last ulp and we want bit-parity
    # with SQL oracles computing ln(1 + x).
    d = dtype
    x = (d(doc_count - doc_freq) + d(0.5)) / (d(doc_freq) + d(0.5))
    return d(np.log(d(1.0) + x))


class Bm25Weight:
    """Per-term weight: idf plus the 256-entry tf-norm cache."""

    __slots__ = ("weight", "cache", "dtype", "k1")

    def __init__(self, doc_freq: int, doc_count: int, avg_fieldnorm: float,
                 dtype=DTYPE):
        d = dtype
        self.dtype = d
        self.k1 = d(K1)
        x = (d(doc_count - doc_freq) + d(0.5)) / (d(doc_freq) + d(0.5))
        self.weight = d(np.log(d(1.0) + x))
        fieldnorms = FIELD_NORMS_TABLE.astype(d)
        self.cache = (d(K1) * (d(1.0) - d(B) +
                               d(B) * fieldnorms / d(avg_fieldnorm))).astype(d)

    def boost_by(self, boost: float) -> "Bm25Weight":
        """Copy with the idf weight scaled by `boost` — the tantivy
        BoostQuery mechanism (crates/tantivy/src/query/bm25.rs
        `Bm25Weight::boost_by`: boost multiplies `weight`, so score AND
        the WAND max_score/block bounds scale together and pruning
        stays exact)."""
        import copy

        w = copy.copy(self)
        w.weight = self.dtype(self.weight * self.dtype(boost))
        return w

    def tf_factor(self, fieldnorm_ids: np.ndarray, tfs: np.ndarray) -> np.ndarray:
        """Vectorized tf_factor over arrays of (fieldnorm_id, tf)."""
        d = self.dtype
        tf = np.asarray(tfs).astype(d)
        norm = self.cache[np.asarray(fieldnorm_ids, dtype=np.int64)]
        return (tf * (self.k1 + d(1.0))) / (tf + norm)

    def score(self, fieldnorm_ids: np.ndarray, tfs: np.ndarray) -> np.ndarray:
        return (self.weight * self.tf_factor(fieldnorm_ids, tfs)).astype(self.dtype)

    def max_score(self) -> float:
        """Upper bound used by WAND: score at fieldnorm_id=255, tf=max
        (reference: crates/tantivy/src/query/bm25.rs:187)."""
        return float(self.score(np.array([255]), np.array([2**31]))[0])


class Bm25FWeight(Bm25Weight):
    """Per-(term, field) BM25F weight (reference:
    /root/reference/crates/core/src/ranking/bm25f.rs:64-181):

    - IDF from the UNION field's doc freq (the AllBody approximation,
      bm25f.rs:38-50) — a term rare in one field but common overall
      still counts as common;
    - the tf-norm cache from the FIELD's own avg_fieldnorm
      (bm25f.rs:104-116 computes total_num_tokens of that field);
    - the field coefficient scales tf INSIDE the saturation
      (bm25f.rs:172-180: term_freq * coefficient), so a high-weight
      field saturates later rather than just multiplying the score.

    score(field, doc) = idf_union * (tf*c)*(k1+1) / (tf*c + norm[fn_id]);
    BM25F(doc) = sum over (term, field) pairs — the kernel's or-group
    accumulation (one group per query term, one member per field).
    """

    __slots__ = ("coeff",)

    def __init__(self, union_doc_freq: int, doc_count: int,
                 field_avg_fieldnorm: float, coeff: float = 1.0,
                 dtype=DTYPE):
        super().__init__(union_doc_freq, doc_count, field_avg_fieldnorm,
                         dtype=dtype)
        self.coeff = dtype(coeff)

    def tf_factor(self, fieldnorm_ids: np.ndarray,
                  tfs: np.ndarray) -> np.ndarray:
        d = self.dtype
        tf = np.asarray(tfs).astype(d) * self.coeff
        norm = self.cache[np.asarray(fieldnorm_ids, dtype=np.int64)]
        return (tf * (self.k1 + d(1.0))) / (tf + norm)
