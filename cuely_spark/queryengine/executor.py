"""IndexReader: distributed BM25 top-k over a built index.

Query lifecycle (Spark mapping of the reference's LocalSearcher::search,
/root/reference/crates/core/src/searcher/local/mod.rs:116-182):

1. parse + plan (driver, `IndexReader._plan` -> :class:`QueryPlan`):
   :mod:`.parser` clauses (dedup, 32-term cap), option validation,
   compound/stem/expansion alternatives and the posting term list.
   Every entry point and both executors (driver-local and Spark) take
   this one plan; the auto-routers decide local vs distributed on it.
2. term stats lookup, inside `_plan`: ONE partition-pruned scan of the
   sorted `term_stats` table (the Parquet FST stand-in) -> global df
   per term; dead-clause detection, the posting-block estimate and the
   BM25 weights built driver-side with global N / avg_fieldnorm
   (global-df contract: bm25.rs:84, SURVEY §4.1).
3. posting scan: `index/kind=p` filtered by `term IN (...)` — Catalyst
   pushes the filter to Parquet (row-group pruning on the sorted term
   column), and only the needed columns are read (positions column is
   skipped unless the query has a phrase).
4. per-segment kernel: repartition(segment_id) + mapInArrow running
   the numpy kernel (:mod:`.kernel`) over arrow tables with numpy
   index grouping — segment-local top-k, block-max pruning, leapfrog
   AND, phrase verification; no per-group pandas machinery (its
   constant overhead multiplies with segment count). The shuffle moves
   only the query's posting rows (KBs), never the corpus.
5. global merge: orderBy(score desc, doc_id asc).limit(k) over the tiny
   union of per-segment top-ks (reference: collector/top_docs.rs merge).
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field

import numpy as np

from .. import TOP_K_DEFAULT
from ..bm25 import Bm25FWeight, Bm25Weight
from .kernel import (PhraseTps, TermPostings, count_matches, segment_topk,
                     union_topk)
from .parser import (Clause, ParsedQuery, compound_alternatives,
                     parse_query)

_POSTING_COLS = ["segment_id", "term", "block_id", "first_doc", "last_doc",
                 "ndocs", "docs", "tfs", "fnids",
                 "block_max_tf", "block_min_fnid"]

#: shared pool for the driver-local pruned posting reads (one read task
#: per segment file; I/O + parquet decode release the GIL)
_LOCAL_READ_THREADS = min(16, os.cpu_count() or 8)
_local_read_pool = None

#: above this many posting files the pruned reader is not built (its
#: cached open handles would strain the fd budget) and the local path
#: keeps the pyarrow-dataset scan
_LOCAL_FILE_CAP = 4096


def _get_local_read_pool():
    global _local_read_pool
    if _local_read_pool is None:
        from concurrent.futures import ThreadPoolExecutor

        _local_read_pool = ThreadPoolExecutor(
            max_workers=_LOCAL_READ_THREADS,
            thread_name_prefix="cuely-localread")
    return _local_read_pool


class _PrunedPostingsReader:
    """Driver-local posting reader: cached per-file parquet handles +
    footer statistics, term-range row-group pruning, parallel reads.

    A row group is read when some query term lies inside its (min, max)
    term stats — a containment test per row group, so the result is
    right whatever the row order inside a file (the build writes files
    term-sorted, which keeps each term in few row groups, but pruning
    does not rely on it). The in-memory metadata plays the role of the
    reference's per-segment term dictionary + skip list (metadata
    resident, data read per query).
    Compared to the generic dataset scan this removes the per-query
    per-file open/footer-parse (~1 ms x segment count) and decodes only
    the matching row groups instead of whole files (measured 6x on a
    640-segment index; plans/r06/local_pruned_read.md)."""

    def __init__(self, root: str):
        import glob as _glob

        import pyarrow.parquet as pq

        if not os.path.isdir(root):
            raise FileNotFoundError(root)
        files = sorted(_glob.glob(
            os.path.join(root, "**", "*.parquet"), recursive=True))
        if not files:
            raise FileNotFoundError(f"no posting files under {root}")
        if len(files) > _LOCAL_FILE_CAP:
            raise ValueError(
                f"{len(files)} posting files > fd cap {_LOCAL_FILE_CAP}")
        self._entries = []
        for f in files:
            seg = int(f.rsplit("segment_id=", 1)[1].split(os.sep)[0])
            pf = pq.ParquetFile(f)
            md = pf.metadata
            ti = md.schema.to_arrow_schema().get_field_index("term")
            mins: list | None = []
            maxs: list = []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(ti).statistics
                if st is None or not st.has_min_max:
                    mins = None  # no stats -> always read every group
                    break
                mins.append(st.min)
                maxs.append(st.max)
            self._entries.append(
                (pf, seg, md.num_row_groups, mins, maxs))

    def read(self, terms: list[str], cols: list[str]):
        import bisect

        import pyarrow as pa
        import pyarrow.compute as pc

        ts = sorted(set(terms))
        file_cols = [c for c in cols if c != "segment_id"]
        tasks = []
        segs = []
        for pf, seg, nrg, mins, maxs in self._entries:
            if mins is None:
                rgs = list(range(nrg))
            else:
                # smallest query term >= the group's min must be <= max
                rgs = [i for i in range(nrg)
                       if (j := bisect.bisect_left(ts, mins[i])) < len(ts)
                       and ts[j] <= maxs[i]]
            if rgs:
                tasks.append((pf, rgs))
                segs.append(seg)
        if not tasks:
            # typed empty result, like the dataset scan's
            empty = self._entries[0][0].schema_arrow.empty_table()
            return empty.select(file_cols).append_column(
                "segment_id", pa.array([], type=pa.int64()))

        def _one(task):
            pf, rgs = task
            return pf.read_row_groups(rgs, columns=file_cols,
                                      use_threads=False)

        # workers return raw tables; the segment_id column is attached
        # ONCE, vectorized, after concat (a per-part append_column holds
        # the GIL ~0.25 ms x files and was the measured bottleneck)
        parts = list(_get_local_read_pool().map(_one, tasks))
        lens = np.fromiter((p.num_rows for p in parts), dtype=np.int64,
                           count=len(parts))
        segcol = np.repeat(np.asarray(segs, dtype=np.int64), lens)
        tbl = pa.concat_tables(parts)
        tbl = tbl.append_column("segment_id", pa.array(segcol))
        return tbl.filter(pc.field("term").isin(ts))


class Count:
    """Exact-or-approximate hit count — the reference's
    `approx_count::Count` (crates/core/src/collector/approx_count.rs:
    28-85: Exact(u64) | Approximate(u64), composing to Approximate when
    either side is approximate)."""

    __slots__ = ("value", "exact")

    def __init__(self, value: int, exact: bool = True):
        self.value = int(value)
        self.exact = bool(exact)

    def compose(self, other: "Count") -> "Count":
        return Count(self.value + other.value,
                     self.exact and other.exact)

    def __int__(self) -> int:
        return self.value

    def __eq__(self, other) -> bool:
        if isinstance(other, Count):
            return (self.value, self.exact) == (other.value, other.exact)
        return NotImplemented

    def __repr__(self) -> str:
        kind = "Exact" if self.exact else "Approximate"
        return f"Count.{kind}({self.value})"


class Expansion(list):
    """compounds-dict value marking a dictionary-expansion or-group
    (fuzzy/prefix/regex term) whose members REPLACE the clause token:
    the base term participates only if it survived the capped
    (df desc, term) expansion — tantivy multi-term expansion semantics
    (a FuzzyTermQuery/RegexQuery rewrites to exactly its dictionary
    matches; the query token itself is not an implicit extra member)."""


def _make_specs(pq: ParsedQuery, weights: dict, by_term: dict, dtype,
                compounds: dict | None = None):
    """(clause_specs, mustnot_groups) for one segment's TermPostings.

    `compounds`: pq.clauses-index -> compound alternative terms; a term
    clause with alternatives becomes an ("or", [(tp, w), ...], None)
    group — (term OR b:compound OR ...) per the reference's compound
    augmentation plan shape."""
    empty_tp = TermPostings([], [], [], [], [], [])
    pos_idx = [i for i, c in enumerate(pq.clauses) if c.kind != "not"]

    def _bw(w, c):
        """Per-clause `^N` boost: tantivy Bm25Weight::boost_by — a
        boosted copy so the shared per-term weight stays unscaled."""
        return w if c.boost == 1.0 else w.boost_by(c.boost)

    specs = []
    for j, c in enumerate(pq.positive):
        if c.kind in ("range", "exists"):
            continue  # handled as kernel range_fns, not posting specs
        if c.kind == "all":
            specs.append(("all", None, c.boost))
            continue
        if c.kind == "termset":
            members = [(by_term.get(t, empty_tp), None)
                       for t in c.tokens]
            specs.append(("termset", members, c.boost))
            continue
        if c.kind == "term":
            t = c.tokens[0]
            alts = (compounds or {}).get(pos_idx[j])
            if isinstance(alts, Expansion):
                # member set IS the expansion — no implicit base member
                members = [(by_term.get(a, empty_tp), _bw(weights[a], c))
                           for a in alts]
                specs.append(("or", members, None))
            elif alts:
                members = [(by_term.get(t, empty_tp),
                            _bw(weights[t], c))]
                members += [(by_term.get(a, empty_tp),
                             _bw(weights[a], c))
                            for a in alts]
                specs.append(("or", members, None))
            else:
                specs.append(("term", by_term.get(t, empty_tp),
                              _bw(weights[t], c)))
        elif c.kind == "filter":
            specs.append(("filter", by_term.get(c.tokens[0], empty_tp),
                          None))
        elif c.prefix:
            exp = (compounds or {}).get(pos_idx[j])
            if exp is None:
                raise ValueError(
                    "phrase-prefix needs plan-time expansion "
                    "(unsupported in should clauses)")
            fixed = [by_term.get(t, empty_tp) for t in c.tokens[:-1]]
            exps = [by_term.get(t, empty_tp) for t in exp]
            specs.append(("pphrase", (fixed, exps),
                          _bw(weights[("phrase", c.tokens, c.slop,
                                       True)], c)))
        else:
            tps = PhraseTps([by_term.get(t, empty_tp) for t in c.tokens],
                            slop=c.slop)
            specs.append(("phrase", tps,
                          _bw(weights[("phrase", c.tokens, c.slop,
                                       False)], c)))
    negs = [[by_term.get(t, empty_tp) for t in c.tokens]
            for c in pq.negative]
    return specs, negs


def _concat_arrow_postings(tbl):
    """{term: TermPostings} with each term's blocks from ALL segments
    concatenated in ascending doc order — the whole index treated as
    ONE logical segment.

    Sound because stage A assigns every segment a disjoint docID range
    (doc_id = offset[segment] + ordinal), so the concatenation is
    doc-ordered and non-overlapping exactly like blocks within one
    segment; that invariant is verified per term below and None is
    returned (caller falls back to the per-segment loop) if any block
    ranges interleave. One kernel invocation then prunes across the
    whole index: the block-max threshold converges once instead of
    once per segment, removing the per-segment Python loop AND most
    block decodes (the reference's searcher enjoys the same effect as
    its segment count shrinks after merges)."""
    n = tbl.num_rows
    if n == 0:
        return {}
    term = tbl["term"].to_pylist()
    first = tbl["first_doc"].to_numpy().astype(np.int64)
    last = tbl["last_doc"].to_numpy().astype(np.int64)
    codes = np.empty(n, dtype=np.int64)
    tmap: dict[str, int] = {}
    for i, t in enumerate(term):
        codes[i] = tmap.setdefault(t, len(tmap))
    order = np.lexsort((first, codes))
    oc = codes[order]
    of = first[order]
    ol = last[order]
    starts = np.flatnonzero(np.r_[True, oc[1:] != oc[:-1]])
    # disjointness: within a term group, each block starts after the
    # previous block ends
    inner = np.ones(n, dtype=bool)
    inner[starts] = False
    if np.any(inner & ~(of > np.r_[np.int64(-1), ol[:-1]])):
        return None
    ends = np.r_[starts[1:], n]
    nd = tbl["ndocs"].to_numpy().astype(np.int64)
    bmt = tbl["block_max_tf"].to_numpy().astype(np.int64)
    bmf = tbl["block_min_fnid"].to_numpy().astype(np.int64)
    docs = tbl["docs"].to_pylist()
    tfs = tbl["tfs"].to_pylist()
    fnids = tbl["fnids"].to_pylist()
    poss = (tbl["positions"].to_pylist()
            if "positions" in tbl.column_names else None)
    inv = {v: k for k, v in tmap.items()}
    out = {}
    for s, e in zip(starts, ends):
        ia = order[s:e]
        out[inv[int(oc[s])]] = TermPostings(
            first[ia], last[ia], nd[ia],
            [docs[i] for i in ia], [tfs[i] for i in ia],
            [fnids[i] for i in ia],
            positions=([poss[i] for i in ia] if poss is not None
                       else None),
            block_max_tf=bmt[ia], block_min_fnid=bmf[ia])
    return out


def _group_arrow_postings(tbl):
    """Yield (segment_id, {term: TermPostings}) straight from an arrow
    table — no pandas. The per-group pandas machinery costs ~1 ms per
    (segment, term) group, which dominates driver-local small-query
    latency at 64 segments; plain index grouping over the handful of
    pruned posting rows is ~free."""
    n = tbl.num_rows
    if n == 0:
        return
    seg = tbl["segment_id"].to_numpy().astype(np.int64)
    term = tbl["term"].to_pylist()
    block = tbl["block_id"].to_numpy().astype(np.int64)
    first = tbl["first_doc"].to_numpy().astype(np.int64)
    last = tbl["last_doc"].to_numpy().astype(np.int64)
    nd = tbl["ndocs"].to_numpy().astype(np.int64)
    bmt = tbl["block_max_tf"].to_numpy().astype(np.int64)
    bmf = tbl["block_min_fnid"].to_numpy().astype(np.int64)
    docs = tbl["docs"].to_pylist()
    tfs = tbl["tfs"].to_pylist()
    fnids = tbl["fnids"].to_pylist()
    poss = (tbl["positions"].to_pylist()
            if "positions" in tbl.column_names else None)
    groups: dict[int, dict[str, list[int]]] = {}
    for i in range(n):
        groups.setdefault(int(seg[i]), {}).setdefault(term[i],
                                                      []).append(i)
    for s, terms in groups.items():
        by_term = {}
        for t, idx in terms.items():
            idx = sorted(idx, key=lambda i: block[i])
            ia = np.asarray(idx, dtype=np.int64)
            by_term[t] = TermPostings(
                first[ia], last[ia], nd[ia],
                [docs[i] for i in idx], [tfs[i] for i in idx],
                [fnids[i] for i in idx],
                positions=([poss[i] for i in idx]
                           if poss is not None else None),
                block_max_tf=bmt[ia], block_min_fnid=bmf[ia])
        yield s, by_term


def _levenshtein1(a: str, b: str) -> bool:
    """Exact ed <= 1 check (O(len), no DP table)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) <= 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    # b is a with one insertion: split at the first mismatch
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


#: upper sentinel for prefix range filters — no token contains the max
#: code point, so [p, p + _MAX_CHAR) covers exactly the p-prefixed terms
_MAX_CHAR = "\U0010ffff"


def _typed_range_spec(c) -> tuple:
    """Range Clause -> (col, lo, hi, lo_inc, hi_inc) with typed bounds
    (ISO timestamps for ts, numerics otherwise)."""
    col = c.tokens[0]

    def conv(v):
        if v is None:
            return None
        if col == "ts":
            from datetime import datetime

            return datetime.fromisoformat(v)
        f = float(v)
        return int(f) if f.is_integer() else f

    return (col, conv(c.lo), conv(c.hi), c.lo_inc, c.hi_inc)


def _arrow_row_filter(schema_names, range_specs: list,
                      exists_specs: list | None):
    """Shared pyarrow dataset filter for range + exists specs (pushed
    into the parquet scan: row-group min/max pruning for ranges,
    null-count stats for exists)."""
    import pyarrow.dataset as ds

    flt = None
    for col, lo, hi, lo_inc, hi_inc in range_specs:
        if col not in schema_names:
            raise ValueError(
                f"range column {col!r} not in the row store "
                f"(has: {schema_names})")
        if lo is not None:
            e = ds.field(col) >= lo if lo_inc else ds.field(col) > lo
            flt = e if flt is None else flt & e
        if hi is not None:
            e = ds.field(col) <= hi if hi_inc else ds.field(col) < hi
            flt = e if flt is None else flt & e
    for col, neg in (exists_specs or []):
        if col not in schema_names:
            raise ValueError(
                f"exists column {col!r} not in the row store "
                f"(has: {schema_names})")
        if neg:
            e = ds.field(col).is_null() | (ds.field(col) == "")
        else:
            e = ds.field(col).is_valid() & (ds.field(col) != "")
        flt = e if flt is None else flt & e
    return flt


def _range_lookup(turns_path: str, seg_dirs: list[int], specs: list,
                  offsets: dict | None,
                  exists_specs: list | None = None):
    """cand -> bool mask of docs whose row-store attributes satisfy ALL
    range filters — an executor-local columnar read of THIS segment's
    row-store partition(s) with the range predicate pushed into the
    parquet scan (the fast-field RangeQuery analog,
    crates/tantivy/src/query/range_query/: there a u64/date fast-field
    column; here the hive-partitioned turns table, so the read is
    pruned to segment_id=N and to the row-groups whose column min/max
    stats intersect the range). Read once per (segment, query) task;
    membership for candidates via searchsorted.

    exists_specs: [(col, neg), ...] — ExistsQuery filters (tantivy
    crates/tantivy/src/query/exist_query/): keep docs whose attribute
    column is non-null AND non-empty (neg=True inverts, the `-field:*`
    form). Same pushed-down scan."""
    cache: dict = {}

    def fn(cand):
        if "ids" not in cache:
            import pyarrow.dataset as ds

            parts = []
            for sd in seg_dirs:
                p = os.path.join(turns_path, f"segment_id={sd}")
                dset = ds.dataset(p, format="parquet")
                flt = _arrow_row_filter(dset.schema.names, specs,
                                        exists_specs)
                idcol = ("doc_id" if "doc_id" in dset.schema.names
                         else "__ord")
                tbl = dset.to_table(columns=[idcol], filter=flt)
                ids = np.asarray(tbl[idcol].to_numpy(), dtype=np.int64)
                if idcol == "__ord":
                    ids = ids + int(offsets[str(sd)])
                parts.append(ids)
            cache["ids"] = (np.sort(np.concatenate(parts)) if parts
                            else np.empty(0, dtype=np.int64))
        ids = cache["ids"]
        out = np.zeros(cand.size, dtype=bool)
        if ids.size and cand.size:
            pos = np.clip(np.searchsorted(ids, cand), 0, ids.size - 1)
            out = ids[pos] == cand
        return out

    return fn


def _cols_lookup(turns_path: str, seg_dirs: list[int],
                 cols: list[str], offsets: dict | None):
    """cand -> {col: np.ndarray} row-store column values for candidate
    docs, via the same executor-local partition-pruned pyarrow read as
    `_range_lookup` (the columnfield/fast-field reader analog,
    collector/top_docs.rs:168-196 reading SiteHash/TitleHash/SimHash
    per collected doc). String columns come back as object arrays
    (hashed by the caller); missing docs get None/0."""
    cache: dict = {}

    def fn(cand: np.ndarray) -> dict:
        if "t" not in cache:
            import pyarrow.dataset as ds

            ids_parts, col_parts = [], {c: [] for c in cols}
            for sd in seg_dirs:
                p = os.path.join(turns_path, f"segment_id={sd}")
                dset = ds.dataset(p, format="parquet")
                import pyarrow.types as pat

                idcol = ("doc_id" if "doc_id" in dset.schema.names
                         else "__ord")
                # dedupe: a requested col may BE the id column
                tbl = dset.to_table(
                    columns=[idcol] + [c for c in cols if c != idcol])
                ids = np.asarray(tbl[idcol].to_numpy(), dtype=np.int64)
                if idcol == "__ord":
                    ids = ids + int(offsets[str(sd)])
                ids_parts.append(ids)
                for c in cols:
                    col = tbl[c]
                    if ((pat.is_integer(col.type)
                         or pat.is_boolean(col.type))
                            and col.null_count):
                        # to_numpy would degrade nullable int/bool to
                        # float64 + NaN, corrupting bucket strings
                        # ('5.0' vs '5') — keep Python ints/bools+None
                        col_parts[c].append(
                            np.array(col.to_pylist(), dtype=object))
                    else:
                        col_parts[c].append(
                            col.to_numpy(zero_copy_only=False))
            def _norm(arr):
                # datetime64 scalars degrade to raw int ns when
                # gathered into an object array — convert to datetime
                # objects (which carry .timestamp()) up front
                if arr.dtype.kind == "M":
                    return (arr.astype("datetime64[us]")
                            .astype(object))
                return arr

            ids = np.concatenate(ids_parts)
            o = np.argsort(ids)
            cache["t"] = (ids[o],
                          {c: _norm(np.concatenate(col_parts[c]))[o]
                           for c in cols})
        ids, vals = cache["t"]
        pos = np.clip(np.searchsorted(ids, cand), 0, ids.size - 1)
        ok = ids[pos] == cand if ids.size else np.zeros(cand.size, bool)
        out = {}
        for c in cols:
            v = np.empty(cand.size, dtype=object)
            v[ok] = vals[c][pos[ok]]
            out[c] = v
        return out

    return fn


def _num_val(x) -> float:
    """Row-store value -> float for numeric aggregations; timestamps
    become epoch seconds (the date_histogram key, matching Spark's
    timestamp->double cast and DuckDB epoch()). Parquet timestamps are
    UTC instants and _cols_lookup hands them over as NAIVE datetimes,
    so attach UTC explicitly — naive .timestamp() would re-interpret
    the wall clock in the executor's local timezone and shift every
    bucket by the UTC offset. Module-level so aggregation closures
    stay picklable (no reader capture)."""
    if hasattr(x, "timestamp"):  # pd.Timestamp / datetime
        if getattr(x, "tzinfo", None) is None:
            from datetime import timezone

            return float(x.replace(tzinfo=timezone.utc).timestamp())
        return float(x.timestamp())
    if isinstance(x, np.datetime64):
        return float(x.astype("datetime64[ns]").astype(np.int64) / 1e9)
    return float(x)


def _missing(x) -> bool:
    """True for NULL row-store values however they surface: None
    (strings / to_pylist) or NaN (pyarrow decodes nullable numeric
    columns to float64 + NaN)."""
    return x is None or (isinstance(x, float) and x != x)


def _str_val(x) -> str:
    """Canonical bucket string for a row-store value — must agree with
    Spark's CAST(col AS STRING) on the match-all aggregation path and
    DuckDB's CAST AS VARCHAR in the oracles (booleans are lowercase
    there; Python str() would give 'True')."""
    if isinstance(x, (bool, np.bool_)):
        return "true" if x else "false"
    return str(x)


def _bucket_ids(values: np.ndarray) -> np.ndarray:
    """Object array of attribute values -> int64 bucket ids, globally
    consistent across segments (md5-based h60 of the string value;
    None hashes as '')."""
    from ..ops.hashing import h60_py

    svals = np.array(["" if v is None else str(v) for v in values],
                     dtype=object)
    uniq, inv = np.unique(svals, return_inverse=True)
    hashed = np.fromiter((h60_py(u) for u in uniq), dtype=np.int64,
                         count=uniq.size)
    return hashed[inv]


def _lev_within(a: str, b: str, d: int,
                transpose: bool = False) -> bool:
    """Exact ed <= d check (full DP with an early-out row minimum —
    strings here are tokens, so the table is tiny). transpose=True
    uses OSA distance (adjacent transposition costs 1)."""
    if d <= 1 and not transpose:
        return _levenshtein1(a, b)
    if abs(len(a) - len(b)) > d:
        return False
    return _osa_scalar(a, b, transpose=transpose) <= d


def _osa_scalar(a: str, b: str, transpose: bool = True) -> int:
    """Scalar edit distance; OSA when transpose, else Levenshtein."""
    la, lb = len(a), len(b)
    rows = [list(range(lb + 1))]
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cur[j] = min(rows[-1][j] + 1, cur[j - 1] + 1,
                         rows[-1][j - 1] + (a[i - 1] != b[j - 1]))
            if (transpose and i > 1 and j > 1
                    and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]):
                cur[j] = min(cur[j], rows[-2][j - 2] + 1)
        rows.append(cur)
        if len(rows) > 2:
            rows.pop(0)
    return rows[-1][lb]


def _deletes_upto(token: str, d: int) -> list[str]:
    """The SymSpell deletion neighborhood: every string obtainable from
    `token` by deleting up to d characters (token itself included)."""
    out = {token}
    frontier = {token}
    for _ in range(d):
        nxt = {w[:i] + w[i + 1:] for w in frontier
               for i in range(len(w))}
        frontier = nxt - out
        out |= nxt
    return sorted(out)


def _lev_eds(cands: list[str], token: str, d: int,
             transpose: bool = False) -> np.ndarray:
    """Vectorized per-candidate edit distances: one DP whose rows are
    numpy ops across every candidate at once (after a length-band
    prefilter), O(len(token) * maxlen) numpy ops regardless of
    candidate count. Out-of-band candidates report d + 1.

    transpose=True computes OSA (restricted Damerau-Levenshtein:
    adjacent transposition costs 1) — the Lucene/tantivy
    `transposition_cost_one` semantics. NOTE this is NOT DuckDB's
    damerau_levenshtein (unrestricted DL: 'ca'->'abc' is 2 there, 3
    under OSA), which is why transposition fuzzy has a pytest brute
    oracle instead of a driver gate."""
    n = len(cands)
    out = np.full(n, d + 1, dtype=np.int64)
    lens = np.fromiter((len(t) for t in cands), dtype=np.int64,
                       count=n)
    band = np.abs(lens - len(token)) <= d
    idx = np.nonzero(band)[0]
    if idx.size == 0:
        return out
    sub_lens = lens[idx]
    lmax = int(sub_lens.max())
    mat = np.zeros((idx.size, lmax), dtype=np.int64)
    for r, i in enumerate(idx):
        t = cands[i]
        mat[r, : len(t)] = [ord(c) for c in t]
    prev2 = None
    prev = np.tile(np.arange(lmax + 1, dtype=np.int64), (idx.size, 1))
    tprev = 0
    for i, ch in enumerate(token, start=1):
        tc = ord(ch)
        cur = np.empty_like(prev)
        cur[:, 0] = i
        for j in range(1, lmax + 1):
            sub = prev[:, j - 1] + (mat[:, j - 1] != tc)
            cur[:, j] = np.minimum(np.minimum(prev[:, j] + 1,
                                              cur[:, j - 1] + 1), sub)
            if transpose and i > 1 and j > 1:
                # OSA: token[i-1]==cand[j-2] and token[i-2]==cand[j-1]
                cond = (mat[:, j - 2] == tc) & (mat[:, j - 1] == tprev)
                np.minimum(cur[:, j],
                           np.where(cond, prev2[:, j - 2] + 1,
                                    cur[:, j]), out=cur[:, j])
        prev2, prev, tprev = prev, cur, tc
    out[idx] = prev[np.arange(idx.size), sub_lens]
    return out


def _lev_mask(cands: list[str], token: str, d: int,
              transpose: bool = False) -> np.ndarray:
    """edit distance <= d membership mask (see _lev_eds)."""
    return _lev_eds(cands, token, d, transpose=transpose) <= d


def _lev_scalar(a: str, b: str) -> int:
    """Exact Levenshtein distance for one pair (tiny DP)."""
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                     prev + (ca != cb))
    return dp[-1]


def _regex_literal_prefix(pat: str) -> str:
    """Longest literal prefix every match of `pat` must start with —
    used to range-prune the dictionary scan (the automaton-over-FST
    walk prunes the same way, crates/tantivy/src/query/regex_query.rs).
    Conservative: stops at the first metacharacter, and drops the final
    literal when a quantifier could repeat it zero times."""
    special = set(".^$*+?{}[]|()\\")
    out: list[str] = []
    i = 0
    while i < len(pat) and pat[i] not in special:
        out.append(pat[i])
        i += 1
    if i < len(pat) and pat[i] in "*?{" and out:
        out.pop()
    return "".join(out)


def _matcher_spec(m, by_term, empty_tp, doclen_fn=None):
    """Compile an optic matcher (optic.compile_rules shape) into the
    kernel's matcher-spec shape (kernel.matcher_mask)."""
    kind, v = m
    if kind == "all":
        return [by_term.get(t, empty_tp) for t in v]
    if kind == "pat":
        return ("pat", [by_term.get(t, empty_tp) for t in v.terms],
                v.slops, v.anchor_start, v.anchor_end, doclen_fn)
    return ("and", [_matcher_spec(x, by_term, empty_tp, doclen_fn)
                    for x in v])


def _doclen_lookup(index_path: str, seg: int):
    """cand -> doclen int64 array (-1 = unknown) via an executor-local
    pyarrow read of one segment's kind='d' doc stats — the reference's
    num_tokens columnfield analog (pattern_query/scorer.rs:320-333
    reads it for end-anchor checks). Partition-pruned columnar scan of
    ~rows_per_segment rows, read once per (segment, query) task."""
    cache: dict = {}

    def fn(cand):
        if "v" not in cache:
            import pyarrow.dataset as ds

            p = os.path.join(index_path, "index", "kind=d",
                             f"segment_id={seg}")
            tbl = ds.dataset(p, format="parquet").to_table(
                columns=["doc_id", "doclen"])
            ids = np.asarray(tbl["doc_id"].to_numpy(), dtype=np.int64)
            dls = np.asarray(tbl["doclen"].to_numpy(), dtype=np.int64)
            o = np.argsort(ids)
            cache["v"] = (ids[o], dls[o])
        ids, dls = cache["v"]
        out = np.full(cand.size, -1, dtype=np.int64)
        if ids.size and cand.size:
            pos = np.clip(np.searchsorted(ids, cand), 0, ids.size - 1)
            ok = ids[pos] == cand
            out[ok] = dls[pos[ok]]
        return out

    return fn


@dataclass
class QueryPlan:
    """One query, planned once by :meth:`IndexReader._plan`: the parsed
    Must/Should queries, validated options, the expansions and shadow
    terms, global dfs, BM25 weights and the posting term list — the
    reference's per-query plan (crates/core/src/query/mod.rs:77-154)
    that every executor then evaluates (searcher/local/mod.rs:116-182).

    Plain data with no reader or SparkSession reference, so the SAME
    object drives the driver-local kernel and ships inside the
    distributed mapInArrow closure."""

    pq: ParsedQuery
    spq: ParsedQuery | None = None
    dtype: type = np.float32
    occur: str = "must"
    tie_breaker: float = 0.0
    const_score: float | None = None
    range_specs: list = field(default_factory=list)
    exists_specs: list = field(default_factory=list)
    #: (turns_path, seg_sources, offsets) when range/exists filters
    #: need per-segment row-store lookups
    rng_ctx: tuple | None = None
    #: index root when optic end anchors need per-segment doclens
    index_path: str | None = None
    boost_rules: list = field(default_factory=list)
    discard_matchers: list = field(default_factory=list)
    require_matchers: list | None = None
    #: pq.clauses index -> alternative terms (compounds, stems,
    #: Expansion members); c_terms lists every alternative
    compounds: dict = field(default_factory=dict)
    c_terms: list = field(default_factory=list)
    #: field -> tf coefficient for a batch BM25F query (search_many)
    bm25f: dict | None = None
    terms: list = field(default_factory=list)  # posting term list
    positions: bool = False  # read the positions column
    dfs: dict = field(default_factory=dict)
    weights: dict = field(default_factory=dict)
    est_blocks: int = 0
    dead: bool = False  # some required clause has no live term
    match_all: bool = False  # no posting-backed membership clause

    @property
    def union(self) -> bool:
        return self.occur in ("should", "dismax")


def _match_all_score(plan: QueryPlan) -> float:
    """Score of every match-all hit: const_score, else the sum of the
    `*` clause boosts (AllQuery scores 1.0 x boost)."""
    if plan.const_score is not None:
        return plan.const_score
    return sum(c.boost for c in plan.pq.positive if c.kind == "all")


def _est_blocks(dfs) -> int:
    """Posting blocks a term set spans: ceil(df / 128) per term plus one
    partial block."""
    return sum(-(-df // 128) + 1 for df in dfs)


def _range_fns(plan: QueryPlan, seg):
    """The kernel's range_fns for one segment (None without filters)."""
    if plan.rng_ctx is None:
        return None
    troot, ssrc, offs = plan.rng_ctx
    dirs = ssrc.get(seg, [seg]) if ssrc else [seg]
    return [_range_lookup(troot, dirs, plan.range_specs, offs,
                          exists_specs=plan.exists_specs)]


def _indep_estimate(by_term: dict, terms: list[str], nd: int) -> int:
    """Term-independence hit estimate prod(df_i) // nd^(k-1) for one
    segment — exact Python ints (BigRational semantics,
    collector/approx_count.rs:104-141); dfs <= nd, so the result fits
    a long even though the product may not."""
    prod = 1
    for t in terms:
        tp = by_term.get(t)
        prod *= int(tp.doc_count) if tp is not None else 0
    kt = len(terms)
    return prod // (nd ** (kt - 1)) if nd and kt > 1 else prod


def _eval_group(plan: QueryPlan, by_term: dict, seg, k: int,
                with_count: bool = False, max_docs: int | None = None,
                seg_docs: dict | None = None):
    """Evaluate one planned query over one posting group ({term:
    TermPostings} of a segment, or of the whole index as one logical
    segment) -> (docs, scores, n, capped); n is the hit count when
    `with_count` (else 0). The one kernel call shared by the local and
    distributed executors and by search_many.

    A segment truncated by `max_docs` (ShortCircuit) reports
    max(matches seen, term-independence estimate) and flags itself
    capped — ApproxCount harvest semantics
    (collector/approx_count.rs:162-181)."""
    dtype = plan.dtype
    specs, negs = _make_specs(plan.pq, plan.weights, by_term, dtype,
                              compounds=plan.compounds)
    if plan.union:
        term_specs = [(tp, w) for _kind, tp, w in specs]
        docs, scores = union_topk(
            term_specs, k, dtype=dtype, mustnot_groups=negs,
            tie=plan.tie_breaker if plan.occur == "dismax" else None)
        # union membership count: one or-group conjunction (WAND can't
        # count — it skips; this is the tuple-collector full walk)
        n = (count_matches([("or", [(tp, None) for tp, _ in term_specs],
                             None)], negs) if with_count else 0)
        return docs, scores, n, False
    empty_tp = TermPostings([], [], [], [], [], [])
    dl_fn = (_doclen_lookup(plan.index_path, seg)
             if plan.index_path is not None else None)

    def matcher(m):
        return _matcher_spec(m, by_term, empty_tp, dl_fn)

    negs = negs + [matcher(m) for m in plan.discard_matchers]
    req = (None if plan.require_matchers is None
           else [matcher(m) for m in plan.require_matchers])
    res = segment_topk(
        specs, negs, k, dtype=dtype, max_docs=max_docs,
        should_specs=(_make_specs(plan.spq, plan.weights, by_term,
                                  dtype)[0]
                      if plan.spq is not None else None),
        boost_specs=[(f, matcher(m)) for f, m in plan.boost_rules] or None,
        require_any=req, range_fns=_range_fns(plan, seg),
        const_score=plan.const_score, with_count=with_count)
    if not with_count:
        return res + (0, False)
    docs, scores, n, capped = res
    if capped and max_docs is not None:
        sterms = [t for c in plan.pq.positive if c.kind == "term"
                  for t in c.tokens]
        n = max(n, _indep_estimate(by_term, sterms, seg_docs.get(seg, 0)))
    return docs, scores, n, capped


def _batch_groups(batches):
    """(segment_id, {term: TermPostings}) groups of one mapInArrow
    partition: ONE arrow table per partition, numpy index grouping, no
    per-group pandas machinery (at 640 segments the applyInPandas
    per-group overhead alone cost ~1.5 s per query)."""
    import pyarrow as pa

    bl = [b for b in batches if b.num_rows]
    if bl:
        yield from _group_arrow_postings(pa.Table.from_batches(bl))


def _hit_batch(parts, tag_col: str, with_count: bool):
    """One arrow batch of per-group hits (doc_id, score, tag_col[, n,
    capped]) from parts [(tag, docs, scores, n, capped)], or None when
    empty. with_count: each part leads with ONE sentinel count row
    (doc_id -1, n >= 0) ahead of its hit rows (n = -1) — the
    (Count, TopDocs) tuple collector riding the top-k output."""
    import pyarrow as pa

    tags, d_o, s_o, n_o, c_o = [], [], [], [], []
    for tag, docs, scores, n, capped in parts:
        if with_count:
            docs = np.concatenate([[-1], docs])
            scores = np.concatenate([[0.0], scores])
            n_o.append(np.concatenate(
                [[n], np.full(docs.size - 1, -1)]).astype(np.int64))
            c_o.append(np.arange(docs.size) == 0 if capped
                       else np.zeros(docs.size, dtype=bool))
        if docs.size:
            tags.extend([tag] * docs.size)
            d_o.append(docs.astype(np.int64))
            s_o.append(scores.astype(np.float64))
    if not d_o:
        return None
    arrs = [pa.array(np.concatenate(d_o)), pa.array(np.concatenate(s_o)),
            pa.array(tags)]
    names = ["doc_id", "score", tag_col]
    if with_count:
        arrs += [pa.array(np.concatenate(n_o)),
                 pa.array(np.concatenate(c_o))]
        names += ["n", "capped"]
    return pa.record_batch(arrs, names=names)


class IndexReader:
    """Point-in-time snapshot of an index (tantivy Searcher semantics:
    a reader sees the segments committed when it was opened). Stats are
    read at __init__ and the postings DataFrame's file listing freezes
    on first query — segments added later by a LiveIndexWriter are NOT
    visible. After live batches, call :meth:`refresh` or construct a
    new reader (the reference reloads its reader on commit,
    crates/core/src/inverted_index/indexing.rs:65-75)."""

    #: queries whose estimated posting-block count is at or below this
    #: run in ONE task (coordinator path); above it, per-segment fanout.
    small_query_blocks: int = 4096

    #: search_collect() runs queries at or below this many estimated
    #: posting blocks driver-locally (pyarrow-pruned read + the same
    #: numpy kernel, no Spark job — see :meth:`search_local`); 0
    #: disables auto-routing. The DataFrame-returning :meth:`search`
    #: (and every correctness gate) always takes the distributed path.
    #: 24576 blocks ~ 3M docs ~ 22 MB of postings — the measured
    #: crossover where the one-task driver read+kernel stops beating
    #: the distributed job's fixed scheduling cost (re-measured after
    #: the round-6 pruned reader made local reads ~6x cheaper: on a
    #: 640-segment 6M-doc index, local wins at est 17.8k blocks
    #: [0.64 vs 0.80 s] and loses at est 34k [0.90 vs 0.75 s]); phrase
    #: queries divide it by 4 (the positions stream multiplies the
    #: read and the verify work — dist measured 2.7x faster at est
    #: 17.8k with positions). At corpus scale term dfs are orders of
    #: magnitude above this, so big queries always fan out.
    local_threshold: int = 24576

    #: phrase-bearing queries use local_threshold // this divisor
    local_phrase_divisor: int = 4

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        from .. import fsio

        self.stats = fsio.read_json(os.path.join(path, "stats.json"))
        self.num_docs = self.stats["num_docs"]
        self.avg_fieldnorm = self.stats["avg_fieldnorm"]
        self._postings_path = os.path.join(path, "index", "kind=p")
        self._term_stats_path = os.path.join(path, "term_stats")
        # merged indexes don't copy the row store; stats.json points back
        self._turns_path = self.stats.get(
            "turns_path", os.path.join(path, "turns"))
        self._segment_map = self.stats.get("segment_map")
        # stage-A-written turns carry (__ord, segment_id); doc_id is
        # offset[segment] + __ord (offsets recorded at build time)
        self._offsets = self.stats.get("segment_offsets")
        self._postings_df = None
        self._segment_docs = None
        self._local_dataset = None
        self._local_pruned = None  # lazy; False = fall back to dataset

    @property
    def postings_df(self):
        """Lazy, cached postings DataFrame: parquet schema inference
        costs ~100 ms per spark.read call — pay it once per reader, not
        once per query. Freezes the file listing: see the class
        docstring's snapshot contract."""
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(
                self._postings_path)
        return self._postings_df

    def refresh(self) -> "IndexReader":
        """Re-open the snapshot: pick up segments/stats committed after
        this reader was constructed (live-index ingest, merges)."""
        self.__init__(self.spark, self.path)
        return self

    def _read_turns(self):
        """Row store with a doc_id column, whatever the id mode."""
        from pyspark.sql import functions as F

        turns = self.spark.read.parquet(self._turns_path)
        if self._offsets is not None and "doc_id" not in turns.columns:
            off = self.spark.createDataFrame(
                [(int(k), int(v)) for k, v in self._offsets.items()],
                "segment_id int, __off long")
            turns = (turns.join(F.broadcast(off), "segment_id")
                     .withColumn("doc_id", F.col("__off") + F.col("__ord"))
                     .drop("__off", "__ord"))
        return turns

    def _parse(self, query):
        """Parse a query string with this index's scored extra fields
        enabled, so `title:term` scopes to the field (tantivy
        `field:term`); ParsedQuery values pass through."""
        if not isinstance(query, str):
            return query
        return parse_query(
            query,
            scored_fields=tuple(self.stats.get("field_cols") or ()))

    def _field_avgfn(self, fname: str) -> float:
        """avg fieldnorm of one extra scored field: the field's total
        token count over ALL docs (bm25.rs:72-79 semantics; a doc
        without the field counts with length 0). 1.0 keeps the norm
        cache finite for a corpus-wide-empty field."""
        if fname not in (self.stats.get("field_cols") or ()):
            raise ValueError(
                f"unknown scored field {fname!r}; index has "
                f"{list(self.stats.get('field_cols') or ())}")
        ftoks = self.stats.get("field_tokens") or {}
        return ((ftoks.get(fname, 0) or 0) / self.num_docs) or 1.0

    def _avgfn_for_key(self, t) -> float:
        """avg fieldnorm for a dictionary key: field-scoped keys
        ("f:{field}:{token}") score against THEIR field's statistics,
        everything else against the primary text field's."""
        if isinstance(t, str) and t.startswith("f:"):
            return self._field_avgfn(t.split(":", 2)[1])
        return self.avg_fieldnorm

    def _seg_sources(self) -> dict | None:
        """Merged index: kernel segment id -> source row-store segment
        dirs (the row store is not copied on merge); None otherwise."""
        if not self._segment_map:
            return None
        out: dict[int, list[int]] = {}
        for old, new in self._segment_map.items():
            out.setdefault(int(new), []).append(int(old))
        return out

    def _validate_range_cols(self, specs: list) -> None:
        """Driver-side schema check so a bad range column fails with a
        clear error instead of a task-side stack. The row-store schema
        is cached per reader: dataset discovery lists every turns file,
        which is driver-side O(files) — pay it once, not per query."""
        names = getattr(self, "_turns_schema_cache", None)
        if names is None:
            import pyarrow.dataset as ds

            names = ds.dataset(self._turns_path, format="parquet",
                               partitioning="hive").schema.names
            self._turns_schema_cache = names
        for col, *_ in specs:
            if col not in names:
                raise ValueError(
                    f"range column {col!r} not in the row store "
                    f"(has: {sorted(n for n in names if not n.startswith('__'))})")

    # ------------------------------------------------------------------
    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global doc-freq per term — the tantivy-FST-lookup analog.

        The term_stats table is written range-partitioned and sorted by
        term, so a pyarrow dataset read with a term-IN filter prunes to
        the one row-group per term via parquet min/max stats — a
        driver-local lookup with no Spark job (reference: TermInfo
        lookup, crates/tantivy/src/termdict/mod.rs). Falls back to a
        Spark scan for non-local filesystems."""
        if not terms:
            return {}
        try:
            import pyarrow.dataset as ds

            dataset = ds.dataset(self._term_stats_path, format="parquet")
            tbl = dataset.to_table(
                columns=["term", "df"],
                filter=ds.field("term").isin(list(terms)))
            found = dict(zip(tbl["term"].to_pylist(),
                             (int(x) for x in tbl["df"].to_pylist())))
        except (ImportError, OSError):  # pragma: no cover
            from pyspark.sql import functions as F

            rows = (
                self.spark.read.parquet(self._term_stats_path)
                .filter(F.col("term").isin(list(terms)))
                .select("term", "df").collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
        return {t: found.get(t, 0) for t in terms}

    def _plan_alternatives(self, pq: ParsedQuery,
                           compound_terms: bool | None = None,
                           stemmed: bool | None = None,
                           occur: str = "must",
                           lang: str | None = None,
                           fuzzy_transpositions: bool = False):
        """(compounds, c_terms): clause-index -> alternative shadow terms
        (bigram/trigram compounds per plan/mod.rs sliding windows, plus
        the "s:"+english_stem (Porter2) shadow when the index is stemmed).

        Augmentation applies to Must conjunctions only; explicitly
        requesting it with occur='should' is an error rather than a
        silent no-op."""
        if occur == "should" and (compound_terms or stemmed):
            raise ValueError(
                "compound_terms/stemmed augmentation is not supported "
                "with occur='should' (scored-disjunction queries take "
                "plain term clauses only)")
        bad = ({c.field for c in pq.clauses if c.field}
               - set(self.stats.get("field_cols") or ()))
        if bad:
            raise ValueError(
                f"unknown scored field(s) {sorted(bad)}; index has "
                f"{list(self.stats.get('field_cols') or ())}")
        ngram_max = int(self.stats.get("ngram_max", 0) or 0)
        use_compounds = (compound_terms if compound_terms is not None
                         else ngram_max >= 2)
        compounds = (compound_alternatives(pq, ngram_max)
                     if use_compounds and occur != "should" else {})
        use_stem = (stemmed if stemmed is not None
                    else bool(self.stats.get("stemmed")))
        if use_stem and occur != "should":
            from ..stemmer import (detect_lang, english_stem, porter_stem,
                                   stem_for_lang)

            # route query-side English stemming by the version the
            # index was BUILT with — a Porter-era index's "s:" terms
            # are invisible to Porter2 query stems (silent recall loss)
            ver = self.stats.get("stemmer_version")
            if ver is None and not getattr(self, "_warned_stem_ver",
                                           False):
                import warnings

                warnings.warn(
                    "stemmed index has no stemmer_version in stats.json"
                    " (pre-Porter2 build?); assuming porter2 — if this "
                    "index was built with classic Porter, stemmed "
                    "recall will silently drop; rebuild the index or "
                    "set stats stemmer_version='porter'")
                self._warned_stem_ver = True
            if ver == "porter":
                english_stem = porter_stem
            if self.stats.get("stem_lang_col"):
                # language-routed index: stem the query with the query's
                # language — explicit `lang` wins, else marker detection
                # with English fallback (the whatlang analog,
                # query/mod.rs:77-154 + text_field.rs:294-326)
                qlang = lang or detect_lang(
                    [t for c in pq.clauses for t in c.tokens])
                stem_q = (  # noqa: E731
                    (lambda t: porter_stem(t) if qlang == "en"
                     else stem_for_lang(t, qlang))
                    if ver == "porter"
                    else lambda t: stem_for_lang(t, qlang))
            else:
                stem_q = english_stem
            for i, c in enumerate(pq.clauses):
                if c.kind == "term" and not c.field:
                    # field-scoped terms have no stemmed shadow
                    compounds.setdefault(i, []).append(
                        "s:" + stem_q(c.tokens[0]))
        # fuzzy (`word~N`) / prefix (`word*`) / regex (`/pat/`) terms
        # expand to their dictionary matches, riding the same
        # (term OR alternatives) or-group plan shape; phrase-prefix
        # (`"a b"*`) expansions for the LAST word also live in the
        # compounds dict under the phrase clause's index
        for i, c in enumerate(pq.clauses):
            if c.kind == "phrase" and c.prefix:
                if occur == "should":
                    raise ValueError(
                        "phrase-prefix requires occur='must'")
                compounds[i] = self.prefix_terms(c.tokens[-1])
                continue
            if c.kind != "term" or not (c.fuzzy or c.prefix or c.regex):
                continue
            if occur == "should":
                raise ValueError(
                    "fuzzy/prefix/regex terms require occur='must'")
            if c.fuzzy:
                exp = self.fuzzy_terms(c.tokens[0], c.fuzzy,
                                       transpose=fuzzy_transpositions)
            elif c.prefix:
                exp = self.prefix_terms(c.tokens[0])
            else:
                exp = self.regex_terms(c.tokens[0])
            # the or-group's member set is EXACTLY the capped expansion
            # (tantivy multi-term expansion semantics: the base token
            # participates only when it survives the (df desc, term)
            # top-50 cut — it is NOT an implicit extra member). Stem /
            # ngram alternatives added above stay as members.
            compounds[i] = Expansion(
                exp + [a for a in compounds.get(i, ())
                       if a not in exp])
        c_terms = [t for alts in compounds.values() for t in alts]
        return compounds, c_terms

    #: Lucene's default cap on fuzzy/prefix/regex-query expansions
    max_fuzzy_expansions: int = 50

    #: above this many dictionary rows surviving row-group pruning, an
    #: expansion scan moves from the driver to a distributed term-stats
    #: scan (only the top-cap rows ever return to the driver)
    vocab_scan_threshold: int = 200_000

    def _cap_expansion(self, terms, dfs, cap: int | None) -> list[str]:
        cap = cap or self.max_fuzzy_expansions
        matched = sorted(zip(terms, dfs), key=lambda x: (-x[1], x[0]))
        return [t for t, _ in matched[:cap]]

    def _scan_expansion(self, match_fn, flt, cap: int | None,
                        prefilter=None, allow_ns: str | None = None
                        ) -> list[str]:
        """Expansion matching over the term dictionary.

        Driver path: a streaming pyarrow scan of the (row-group-pruned
        when `flt` is a sorted-column range) term-stats table, keeping a
        running (df desc, term asc) top-cap across batches — bounded
        driver memory however many terms match.
        Distributed path (pruned rows > vocab_scan_threshold): the same
        matcher fans out over executors via mapInArrow on the term-stats
        scan (`prefilter` narrows it, e.g. the prefix range or the
        fuzzy length band) and ONLY the global top-cap rows are
        collected — the vocabulary itself never reaches the driver.
        This is the scale analog of tantivy's automaton-over-FST term
        expansion (crates/tantivy/src/query/fuzzy_query/mod.rs,
        regex_query.rs): pruned dictionary walk, capped result."""
        import pyarrow.dataset as ds

        cap = cap or self.max_fuzzy_expansions
        dset = ds.dataset(self._term_stats_path, format="parquet")
        if dset.count_rows(filter=flt) > self.vocab_scan_threshold:
            return self._distributed_expansion(match_fn, prefilter, cap,
                                               allow_ns=allow_ns)
        scanner = dset.scanner(columns=["term", "df"], filter=flt)
        best: list[tuple[int, str]] = []
        for batch in scanner.to_batches():
            if batch.num_rows == 0:
                continue
            terms = batch["term"].to_pylist()
            dfv = batch["df"].to_numpy(zero_copy_only=False)
            keep = match_fn(terms)
            # shadow/attr namespaces (s:/b:/u:/f:/role: ...) never leak
            # into a plain-text expansion; a field-scoped prefix opts
            # back into exactly ITS "f:{field}:" namespace
            pairs = [(-int(f), t)
                     for t, f, m in zip(terms, dfv, keep)
                     if m and (":" not in t
                               or (allow_ns is not None
                                   and t.startswith(allow_ns)))]
            if pairs:
                best = sorted(best + pairs)[:cap]
        return [t for _, t in best]

    def _distributed_expansion(self, match_fn, prefilter,
                               cap: int,
                               allow_ns: str | None = None) -> list[str]:
        """Executor-side expansion for extreme vocabularies."""
        from pyspark.sql import functions as F

        df = (self.spark.read.parquet(self._term_stats_path)
              .select("term", "df"))
        ns_ok = ~F.col("term").contains(":")
        if allow_ns is not None:
            ns_ok = ns_ok | F.col("term").startswith(allow_ns)
        df = df.filter(ns_ok)
        if prefilter is not None:
            df = prefilter(df)

        def match(batches):
            import pyarrow as pa

            for b in batches:
                if b.num_rows == 0:
                    continue
                terms = b["term"].to_pylist()
                m = np.asarray(match_fn(terms), dtype=bool)
                if m.any():
                    dfv = b["df"].to_numpy(
                        zero_copy_only=False).astype(np.int64)
                    yield pa.record_batch(
                        [pa.array([t for t, k in zip(terms, m) if k]),
                         pa.array(dfv[m])],
                        names=["term", "df"])

        rows = (df.mapInArrow(match, schema="term string, df long")
                .orderBy(F.desc("df"), F.asc("term")).limit(cap)
                .collect())
        return [r["term"] for r in rows]

    def prefix_terms(self, prefix: str,
                     cap: int | None = None) -> list[str]:
        """Dictionary terms starting with `prefix`, (df desc, term asc)
        capped — the wildcard-prefix expansion (`word*`).

        The term-stats table is range-partitioned and SORTED by term,
        so the [prefix, prefix+MAXCHAR) dataset filter prunes to the
        row-groups whose min/max term stats intersect the prefix range
        — the FST-prefix-walk analog (same trick term_dfs uses for IN
        lookups). Never a full-vocabulary read."""
        import pyarrow.dataset as ds

        flt = ((ds.field("term") >= prefix)
               & (ds.field("term") < prefix + _MAX_CHAR))

        def prefilter(df):
            from pyspark.sql import functions as F

            return df.filter((F.col("term") >= prefix)
                             & (F.col("term") < prefix + _MAX_CHAR))

        # a field-scoped prefix ("f:title:mer") expands within exactly
        # its own keyed namespace
        ns = None
        if prefix.startswith("f:") and prefix.count(":") >= 2:
            ns = prefix[: prefix.index(":", 2) + 1]
        return self._scan_expansion(
            lambda ts: [t.startswith(prefix) for t in ts], flt, cap,
            prefilter=prefilter, allow_ns=ns)

    def regex_terms(self, pattern: str,
                    cap: int | None = None) -> list[str]:
        """Dictionary terms fully matching `pattern` (tantivy
        RegexQuery analog — there a regex automaton walks the FST;
        here a pruned dictionary scan; patterns should stay
        RE2-compatible for oracle parity with DuckDB's
        regexp_full_match). The pattern's longest literal prefix
        range-prunes the scan like prefix_terms; prefix-free patterns
        over a huge vocabulary take the distributed scan."""
        import re

        import pyarrow.dataset as ds

        rx = re.compile(pattern)
        lit = _regex_literal_prefix(pattern)
        flt = None
        prefilter = None
        if lit:
            flt = ((ds.field("term") >= lit)
                   & (ds.field("term") < lit + _MAX_CHAR))

            def prefilter(df):
                from pyspark.sql import functions as F

                return df.filter((F.col("term") >= lit)
                                 & (F.col("term") < lit + _MAX_CHAR))

        return self._scan_expansion(
            lambda ts: [rx.fullmatch(t) is not None for t in ts],
            flt, cap, prefilter=prefilter)

    def build_fuzzy_sidecar(self, max_d: int = 1) -> str:
        """Write the SymSpell deletion-neighborhood sidecar (delegates
        to :func:`cuely_spark.indexer.build.build_fuzzy_sidecar`):
        (variant, term, df) rows where variant = the term plus every
        deletion of up to `max_d` characters, range-partitioned and
        sorted by variant so the query-time candidate lookup is a
        row-group-pruned columnar read instead of a dictionary scan —
        the scale path for fuzzy matching at extreme vocabularies.
        Built automatically by build_index/merge_segments unless
        disabled; call directly to upgrade max_d on an existing index."""
        from ..indexer.build import build_fuzzy_sidecar

        return build_fuzzy_sidecar(self.spark, self.path, max_d=max_d,
                                   term_stats_path=self._term_stats_path)

    def fuzzy_terms(self, token: str, d: int,
                    cap: int | None = None,
                    transpose: bool = False) -> list[str]:
        """Dictionary terms within Levenshtein distance `d` of `token`,
        ordered (df desc, term asc), capped at `max_fuzzy_expansions`
        (Lucene's default) — the tantivy FuzzyTermQuery expansion
        (crates/tantivy/src/query/fuzzy_query/mod.rs walks an FST with
        a Levenshtein automaton; the parquet term-stats table is this
        engine's FST stand-in).

        Scale ladder: (1) when the SymSpell deletion sidecar exists
        with sidecar max_d >= d, candidates come from a row-group-
        pruned variant lookup — O(row-group), exact (neighborhoods of
        depth d intersect iff ed <= d, then DP-verified); (2) small
        vocabularies take a driver-local streaming scan with a length
        band + ONE vectorized DP across each batch; (3) huge
        vocabularies without a sidecar fan the same matcher out over
        executors, returning only the top-cap.

        transpose=True uses OSA distance (adjacent transposition costs
        1 — Lucene/tantivy transposition_cost_one; Elasticsearch's
        fuzzy_transpositions). Pytest-oracled only: DuckDB's
        damerau_levenshtein is the UNRESTRICTED distance, which
        disagrees with OSA on corner cases like ca->abc."""
        side = self._fuzzy_sidecar_lookup(token, d, cap,
                                          transpose=transpose)
        if side is not None:
            return side

        def prefilter(df):
            from pyspark.sql import functions as F

            return df.filter(F.length("term").between(
                len(token) - d, len(token) + d))

        return self._scan_expansion(
            lambda ts: _lev_mask(ts, token, d, transpose=transpose),
            None, cap, prefilter=prefilter)

    def _sidecar_candidate_pairs(self, token: str,
                                 d: int) -> list | None:
        """Raw (term, df) candidates whose depth-d deletion neighborhood
        intersects the token's — a row-group-pruned sidecar read; None
        when the sidecar is absent or built with a smaller max_d.
        Candidates are NOT yet distance-verified."""
        path = os.path.join(self.path, "fuzzy_deletes")
        if not os.path.isdir(path):
            return None
        side_d = 1
        meta_p = os.path.join(path, "_sidecar.json")
        if os.path.exists(meta_p):
            import json

            with open(meta_p) as f:
                side_d = int(json.load(f).get("max_d", 1))
        if side_d < d:
            return None
        import pyarrow.dataset as ds

        qvars = _deletes_upto(token, d)
        tbl = ds.dataset(path, format="parquet").to_table(
            columns=["term", "df"],
            filter=ds.field("variant").isin(qvars))
        return sorted({(t, int(f)) for t, f in
                       zip(tbl["term"].to_pylist(),
                           tbl["df"].to_pylist())})

    def _fuzzy_sidecar_lookup(self, token: str, d: int,
                              cap: int | None,
                              transpose: bool = False
                              ) -> list[str] | None:
        """ed<=d expansion via the deletion sidecar; None when the
        sidecar is absent or built with a smaller max_d (fall back to
        the scan). The deletion-neighborhood guarantee holds for OSA
        too (each OSA op consumes <= 1 deletion per side, incl. a
        transposition: delete one swapped char from each side), so the
        same candidates are just verified with the requested metric."""
        cand = self._sidecar_candidate_pairs(token, d)
        if cand is None:
            return None
        ok_terms, ok_dfs = [], []
        for t, f in cand:
            # DP-verify: neighborhoods can intersect past ed d (ab/ba)
            if _lev_within(token, t, d, transpose=transpose):
                ok_terms.append(t)
                ok_dfs.append(f)
        return self._cap_expansion(ok_terms, ok_dfs, cap)

    def suggest_terms(self, token: str, d: int = 2,
                      k: int = 3,
                      transpositions: bool = False
                      ) -> list[tuple[str, int, int]]:
        """Spelling suggestions for one token: dictionary terms within
        Levenshtein `d`, ranked (edit distance asc, df desc, term asc)
        — the web-spell candidate ranking analog (reference:
        crates/web-spell/src/: an error model over a term-frequency LM;
        here the rank is discrete — closest edit first, then corpus
        popularity — so it is deterministic and oracle-reproducible).
        Returns [(term, ed, df)], the exact token itself excluded.

        Scale: same ladder as fuzzy_terms — sidecar row-group lookup
        when available, streaming driver scan below
        vocab_scan_threshold, distributed term-stats scan above it.

        transpositions=True ranks by OSA distance (adjacent swap costs
        1 — Lucene/tantivy transposition_cost_one), same option as
        fuzzy terms; the SymSpell deletion neighborhood covers swaps
        at the same depth, so the sidecar ladder is unchanged.
        Pytest-oracled only (DuckDB's damerau_levenshtein is the
        UNRESTRICTED distance, see _lev_eds)."""
        ranked: list[tuple[int, int, str]] = []
        side = self._sidecar_candidate_pairs(token, d)
        if side is not None:
            for t, f in side:
                if t == token:
                    continue
                ed = (_osa_scalar(token, t, transpose=True)
                      if transpositions else _lev_scalar(token, t))
                if ed <= d:
                    ranked.append((ed, -f, t))
        else:
            import pyarrow.dataset as ds

            dset = ds.dataset(self._term_stats_path, format="parquet")
            if dset.count_rows() > self.vocab_scan_threshold:
                from pyspark.sql import functions as F

                df = (self.spark.read.parquet(self._term_stats_path)
                      .select("term", "df")
                      .filter(~F.col("term").contains(":"))
                      .filter(F.length("term").between(
                          len(token) - d, len(token) + d)))

                def match(batches):
                    import pyarrow as pa

                    for b in batches:
                        if b.num_rows == 0:
                            continue
                        terms = b["term"].to_pylist()
                        eds = _lev_eds(terms, token, d,
                                       transpose=transpositions)
                        m = eds <= d
                        if m.any():
                            dfv = b["df"].to_numpy(
                                zero_copy_only=False).astype(np.int64)
                            yield pa.record_batch(
                                [pa.array([t for t, kp in
                                           zip(terms, m) if kp]),
                                 pa.array(dfv[m]), pa.array(eds[m])],
                                names=["term", "df", "ed"])

                rows = (df.mapInArrow(
                            match,
                            schema="term string, df long, ed long")
                        .orderBy(F.asc("ed"), F.desc("df"),
                                 F.asc("term"))
                        .limit(k + 1).collect())
                ranked = [(int(r["ed"]), -int(r["df"]), r["term"])
                          for r in rows if r["term"] != token]
            else:
                scanner = dset.scanner(columns=["term", "df"])
                for batch in scanner.to_batches():
                    if batch.num_rows == 0:
                        continue
                    terms = batch["term"].to_pylist()
                    dfv = batch["df"].to_numpy(zero_copy_only=False)
                    eds = _lev_eds(terms, token, d,
                                   transpose=transpositions)
                    for t, f, e in zip(terms, dfv, eds):
                        if e <= d and t != token and ":" not in t:
                            ranked.append((int(e), -int(f), t))
                    ranked = sorted(ranked)[:max(k, 50)]
        ranked.sort()
        return [(t, ed, -nf) for ed, nf, t in ranked[:k]]

    def suggest(self, query: str, d: int = 2,
                transpositions: bool = False
                ) -> tuple[str, dict[str, list[tuple[str, int, int]]]]:
        """Did-you-mean over a whole query (the reference's spell
        correction surface, crates/web-spell wired into the API
        searcher, crates/core/src/searcher/api/mod.rs): each term token
        absent from the dictionary is replaced by its top suggestion.
        Returns (corrected_query, {token: suggestions}) — the corrected
        string equals the input when every token is known."""
        from ..tokenizer import tokenize

        toks = tokenize(query)
        dfs = self.term_dfs(toks)
        out_toks: list[str] = []
        sugg: dict[str, list] = {}
        for t in toks:
            if dfs.get(t, 0) > 0:
                out_toks.append(t)
                continue
            s = self.suggest_terms(t, d=d, k=3,
                                   transpositions=transpositions)
            sugg[t] = s
            out_toks.append(s[0][0] if s else t)
        return " ".join(out_toks), sugg

    @staticmethod
    def _prune_dead_alts(compounds: dict, dfs: dict[str, int]) -> dict:
        """Drop shadow alternatives with global df 0: a dead member can
        never change membership or score, but its presence turns a term
        clause into an or-group — notably costing single-term queries
        on an ngram index the block-max WAND fast path. Pruning after
        the (already fetched) stats lookup keeps plans minimal."""
        out = {}
        for i, alts in compounds.items():
            live = [a for a in alts if dfs.get(a, 0) > 0]
            if isinstance(alts, Expansion):
                # keep the (possibly empty) marker: an expansion clause
                # must never fall back to plain base-term matching
                out[i] = Expansion(live)
            elif live:
                out[i] = live
        return out

    @staticmethod
    def _dead_clause(pq: ParsedQuery, compounds: dict,
                     dfs: dict[str, int]) -> bool:
        """True when some required clause has no live member anywhere
        (a term clause with alternatives is live if ANY member has
        df > 0)."""
        pos_idx = [i for i, c in enumerate(pq.clauses) if c.kind != "not"]
        for j, c in enumerate(pq.positive):
            alts = compounds.get(pos_idx[j], [])
            if c.kind in ("range", "exists", "all"):
                continue  # liveness is data-dependent, not df-derivable
            if c.kind == "termset":
                # one-of: live while ANY member exists somewhere
                if all(dfs[t] == 0 for t in c.tokens):
                    return True
                continue
            if c.kind == "term" and isinstance(alts, Expansion):
                # expansion clause: live iff >= 1 expansion member is
                # (the base term is NOT an implicit member)
                if not alts or all(dfs[a] == 0 for a in alts):
                    return True
            elif c.kind == "term" and alts:
                if (dfs[c.tokens[0]] == 0
                        and all(dfs[a] == 0 for a in alts)):
                    return True
            elif c.kind == "phrase" and c.prefix:
                # fixed words must all exist; >=1 live expansion
                if (any(dfs[t] == 0 for t in c.tokens[:-1])
                        or not alts):
                    return True
            elif any(dfs[t] == 0 for t in c.tokens):
                return True
        return False

    def _weights(self, pq: ParsedQuery, dfs: dict[str, int], dtype):
        weights: dict = {}
        for t in pq.all_terms():
            # field-scoped keys ("f:{field}:{tok}") use the FIELD's df
            # (already keyed in dfs) and the field's avg fieldnorm —
            # tantivy scores `field:term` with that field's statistics
            weights[t] = Bm25Weight(dfs[t], self.num_docs,
                                    self._avgfn_for_key(t), dtype=dtype)
        for c in pq.positive:
            if c.kind == "phrase":
                # phrase weight = sum of constituent idfs
                # (crates/tantivy/src/query/bm25.rs:96-131); a
                # phrase-prefix weights its FIXED terms only
                # (phrase_prefix_query.rs:95-121 Bm25Weight::for_terms
                # over phrase_terms, which excludes the prefix)
                # field-scoped phrases saturate against THEIR field's
                # norm cache (tokens are keys, all in the same field)
                w = Bm25Weight(1, self.num_docs,
                               self._avgfn_for_key(c.tokens[0]),
                               dtype=dtype)
                s = dtype(0.0)
                toks = c.tokens[:-1] if c.prefix else c.tokens
                for t in toks:
                    s = dtype(s + weights[t].weight)
                w.weight = s
                weights[("phrase", c.tokens, c.slop, c.prefix)] = w
        return weights

    # ------------------------------------------------------------------
    # planning: the only place a query is validated, expanded, looked up
    # in the term dictionary and weighted
    def _plan(self, query, **opts) -> QueryPlan:
        """Plan a query once; every search entry point consumes the
        result, and a QueryPlan argument passes through unchanged (the
        way :meth:`_parse` passes a ParsedQuery through). Options are
        :meth:`_plan_terms`'s."""
        if isinstance(query, QueryPlan):
            return query
        plan = self._plan_terms(query, **opts)
        if plan.match_all:
            return plan
        return self._plan_stats(plan, self.term_dfs(plan.terms))

    def _plan_terms(self, query, *, dtype=np.float32, occur: str = "must",
                    should=None, compound_terms: bool | None = None,
                    stemmed: bool | None = None, lang: str | None = None,
                    fuzzy_transpositions: bool = False,
                    tie_breaker: float = 0.0,
                    const_score: float | None = None,
                    optic=None, bm25f: dict | None = None) -> QueryPlan:
        """Planning step 1, no term statistics yet: parse, validate the
        options, compile optic rules, expand alternatives and collect
        the posting term list. search_many runs this per query, then
        ONE term_dfs over the union, then :meth:`_plan_stats`.
        bm25f (search_many only): field -> tf coefficient overrides for
        a batch BM25F query."""
        pq = self._parse(query)
        plan = QueryPlan(pq, dtype=dtype, occur=occur,
                         tie_breaker=tie_breaker, const_score=const_score)
        rule_terms: list[str] = []
        if optic:
            from .optic import (Optic, all_matcher_terms, compile_rules,
                                rules_need_doclen, rules_need_positions)

            if occur == "should":
                raise ValueError("optic rules require occur='must'")
            rules = optic.rules if isinstance(optic, Optic) else optic
            plan.boost_rules, plan.discard_matchers = compile_rules(rules)
            if isinstance(optic, Optic) and optic.discard_non_matching:
                if not plan.boost_rules:
                    raise ValueError(
                        "discard_non_matching needs at least one "
                        "non-discard rule (the Must union would be "
                        "empty)")
                plan.require_matchers = [m for _, m in plan.boost_rules]
            rule_terms = all_matcher_terms(plan.boost_rules,
                                           plan.discard_matchers)
            plan.positions = rules_need_positions(plan.boost_rules,
                                                  plan.discard_matchers)
            if rules_need_doclen(plan.boost_rules, plan.discard_matchers):
                plan.index_path = self.path
        if should is not None:
            if occur == "should":
                raise ValueError(
                    "mixed occur uses occur='must' + should=...")
            plan.spq = self._parse(should)
            if plan.spq.negative:
                raise ValueError(
                    "negations belong in the must query, not in should")
        plan.range_specs = [_typed_range_spec(c) for c in pq.positive
                            if c.kind == "range"]
        plan.exists_specs = [(c.tokens[0], c.neg) for c in pq.positive
                             if c.kind == "exists"]
        if occur == "dismax" and not 0.0 <= tie_breaker <= 1.0:
            raise ValueError("dismax tie_breaker must be in [0, 1]")
        if const_score is not None and plan.union:
            raise ValueError("const_score requires occur='must'")
        if plan.range_specs or plan.exists_specs:
            if plan.union:
                raise ValueError(
                    "range/exists filters require occur='must'")
            self._validate_range_cols(
                plan.range_specs
                + [(col,) for col, _ in plan.exists_specs])
            plan.rng_ctx = (self._turns_path, self._seg_sources(),
                            self._offsets)
        if not any(c.kind in ("term", "phrase", "filter", "termset")
                   for c in pq.positive):
            # no posting-backed membership clause: pure match-all
            # (`* n_chars:>100`, `* -tool:*`, ...) — row-store path
            plan.match_all = True
            return plan
        if bm25f is not None:
            plan.compounds, plan.c_terms, plan.bm25f = \
                self._bm25f_alternatives(pq, plan.spq, bm25f)
        else:
            plan.compounds, plan.c_terms = self._plan_alternatives(
                pq, compound_terms, stemmed, occur, lang=lang,
                fuzzy_transpositions=fuzzy_transpositions)
        qs = [pq] + ([plan.spq] if plan.spq is not None else [])
        plan.terms = list(dict.fromkeys(
            [t for q in qs for t in q.all_terms()] + plan.c_terms
            + rule_terms))
        plan.positions = plan.positions or any(
            c.kind == "phrase" for q in qs for c in q.positive)
        return plan

    def _bm25f_alternatives(self, pq: ParsedQuery, spq, coeffs: dict):
        """Batch BM25F plan shape: each simple term becomes an or-group
        with one member per scored field (the primary field's member is
        the term itself) -> (compounds, c_terms, field -> coefficient).
        Simple positive terms + filters only — search_bm25f covers the
        other edges."""
        extra = list(self.stats.get("field_cols") or [])
        if not extra:
            raise ValueError("index has no field_cols; bm25f specs need "
                             "a multi-field index")
        if spq is not None or pq.negative or any(
                c.kind in ("phrase", "range", "exists", "termset", "all")
                or c.field for c in pq.clauses):
            raise ValueError(
                "batch bm25f specs take simple positive terms + filters "
                "only (no field-scoped terms: BM25F already scores every "
                "term across all fields)")
        compounds = {i: [f"f:{g}:{c.tokens[0]}" for g in extra]
                     for i, c in enumerate(pq.clauses) if c.kind == "term"}
        cmap = {f: 1.0 for f in [self.stats.get("text_col", "text")]
                + extra}
        for fname, v in coeffs.items():
            if fname not in cmap:
                raise ValueError(
                    f"unknown field {fname!r}; index has {list(cmap)}")
            cmap[fname] = float(v)
        return (compounds, [t for a in compounds.values() for t in a],
                cmap)

    def _plan_stats(self, plan: QueryPlan, dfs: dict) -> QueryPlan:
        """Planning step 2, from global dfs covering plan.terms: prune
        dead alternatives, detect a dead required clause, build the
        BM25 weights and the posting-block estimate."""
        pq, dtype = plan.pq, plan.dtype
        plan.dfs = {t: dfs[t] for t in plan.terms}
        plan.est_blocks = _est_blocks(plan.dfs.values())
        if plan.bm25f is None:
            plan.compounds = self._prune_dead_alts(plan.compounds, dfs)
        if plan.union:
            if any(c.kind != "term" for c in pq.positive):
                raise ValueError(f"occur={plan.occur!r} supports plain "
                                 "term clauses only")
            plan.dead = all(dfs[c.tokens[0]] == 0 for c in pq.positive)
        else:
            plan.dead = self._dead_clause(pq, plan.compounds, dfs)
        if plan.dead:
            return plan
        if plan.bm25f is not None:
            # union-df IDF, each field's own fieldnorms, coefficient
            # inside the saturation (search_bm25f semantics)
            primary = self.stats.get("text_col", "text")
            for c in pq.positive:
                t = c.tokens[0]
                if ":" in t:
                    continue  # attribute filter, unscored
                for f, key in [(primary, t)] + [
                        (g, f"f:{g}:{t}")
                        for g in self.stats.get("field_cols") or ()]:
                    plan.weights[key] = Bm25FWeight(
                        dfs["u:" + t], self.num_docs,
                        self._avgfn_for_key(key),
                        coeff=plan.bm25f[f], dtype=dtype)
            return plan
        plan.weights = self._weights(pq, dfs, dtype)
        if plan.spq is not None:
            plan.weights.update(self._weights(plan.spq, dfs, dtype))
        for t in plan.c_terms:
            plan.weights[t] = Bm25Weight(dfs[t], self.num_docs,
                                         self._avgfn_for_key(t),
                                         dtype=dtype)
        return plan

    def _route_local(self, plan: QueryPlan) -> bool:
        """Auto-routing on the plan's own term-stats lookup: run
        driver-locally at or below `local_threshold` estimated posting
        blocks (`// local_phrase_divisor` when positions are read)."""
        thr = self.local_threshold
        if thr <= 0:  # auto-routing disabled
            return False
        if plan.positions:
            thr //= self.local_phrase_divisor
        return plan.est_blocks <= thr

    def _postings_for(self, terms: list[str], positions: bool = False):
        """Distributed posting scan pruned to `terms` (Catalyst pushes
        the IN filter to Parquet row-group stats)."""
        from pyspark.sql import functions as F

        return (self.postings_df.filter(F.col("term").isin(list(terms)))
                .select(*_POSTING_COLS,
                        *(["positions"] if positions else [])))

    def _shape(self, postings, est_blocks: int):
        """Small queries (few posting blocks): one task evaluating all
        segments beats a per-segment shuffle fanout — the coordinator-
        handles-small-queries path; coalesce(1) folds the (pruned,
        KB-scale) scan and the kernel into ONE stage with no exchange.
        Large queries fan out hash-partitioned on segment_id (scales
        with the cluster) via repartition, which keeps the parallel
        scan."""
        from pyspark.sql import functions as F

        if est_blocks <= self.small_query_blocks:
            return postings.coalesce(1)
        return postings.repartition(F.col("segment_id"))

    # ------------------------------------------------------------------
    def search(self, query: str | ParsedQuery, k: int = TOP_K_DEFAULT,
               dtype=np.float32, with_meta: bool = False,
               occur: str = "must", max_docs_per_segment: int | None = None,
               offset: int = 0, should: str | ParsedQuery | None = None,
               compound_terms: bool | None = None,
               stemmed: bool | None = None,
               lang: str | None = None,
               optic: list | None = None,
               fuzzy_transpositions: bool = False,
               tie_breaker: float = 0.0,
               const_score: float | None = None,
               _count_rows: bool = False):
        """Top-k DataFrame (doc_id, score[, conv cols]), rank order.

        occur="must" (default): conjunctive AND of all positive clauses
        (the reference's default, query/plan/mod.rs:299).
        occur="should": scored disjunction via multi-scorer block-max
        WAND (term clauses only).
        occur="dismax": disjunction scored with the DisjunctionMax
        combiner — max matching clause + tie_breaker × (sum − max)
        (tantivy DisjunctionMaxQuery, disjunction_max_query.rs +
        score_combiner.rs:82-115). Same union membership as "should".
        const_score: fixed score for every matching doc (tantivy
        ConstScoreQuery) — ranking degenerates to doc_id asc;
        membership (phrases, filters, ranges, negations) unchanged.
        occur="must" only.
        should: extra Should clauses on top of the Must query — they add
        BM25 score on docs already matching `query` but never gate
        membership (Occur composition, boolean_weight.rs:107-184; an
        unscored should collapses into must, so count() ignores them).
        offset: skip the first `offset` ranked hits (pagination —
        reference: skip(offset).take(top_n), collector/top_docs.rs:450-453
        with offset = page * num_results, query/mod.rs:147).
        compound_terms: augment adjacent simple terms with indexed
        bigram/trigram compounds — "new york" also matches docs whose
        bigram field holds "newyork" (plan/mod.rs:223-300). Defaults to
        on iff the index was built with ngram_max >= 2.
        stemmed: each simple term also ORs with its "s:"+stem shadow
        term, so "running" matches docs containing "run" (reference
        stemmed fields, schema/text_field.rs:294-326). Defaults to on
        iff the index was built with stem=True. On a language-routed
        index (built with stem_lang_col) the stemmer follows `lang`
        (or marker-based query-language detection, English fallback).
        max_docs_per_segment: ShortCircuit cap — consider only the first
        N candidate docs per segment in doc order (reference default
        250_000, config/defaults.rs:38-40).
        optic: list of :class:`.optic.Rule` — boost/downrank rules
        multiply matching docs' scores BEFORE top-k selection with the
        reference's accumulation semantics (computer/mod.rs:471-497);
        discard rules exclude matching docs like MustNot groups
        (optic.rs:62-77)."""
        plan = self._plan(
            query, dtype=dtype, occur=occur, should=should,
            compound_terms=compound_terms, stemmed=stemmed, lang=lang,
            fuzzy_transpositions=fuzzy_transpositions,
            tie_breaker=tie_breaker, const_score=const_score, optic=optic)
        if plan.match_all:
            return self._search_all(plan, k, offset, with_meta,
                                    _count_rows=_count_rows)
        if plan.dead:
            return None if _count_rows else self._empty_result()
        seg_k = k + offset  # each segment must surface the skipped page
        cap = max_docs_per_segment
        # tiny dict in the closure (the kernel closure must not capture
        # self: unpicklable SparkSession)
        seg_docs = (self.segment_docs
                    if _count_rows and cap is not None else None)

        def run_arrow(batches):
            # _count_rows: each segment emits its top-k hit rows plus
            # ONE sentinel count row — the reference's (Count|
            # ApproxCount, TopDocs) tuple collector,
            # crates/core/src/inverted_index/search.rs:47-95
            parts = [(seg,) + _eval_group(plan, by_term, seg, seg_k,
                                          _count_rows, cap, seg_docs)
                     for seg, by_term in _batch_groups(batches)]
            batch = _hit_batch(parts, "segment_id", _count_rows)
            if batch is not None:
                yield batch

        hits = self._shape(self._postings_for(plan.terms, plan.positions),
                           plan.est_blocks).mapInArrow(
            run_arrow,
            schema="doc_id long, score double, segment_id long"
                   + (", n long, capped boolean" if _count_rows else ""))
        if _count_rows:
            return hits
        return self._topk_tail(hits, k, offset, with_meta)

    def _topk_tail(self, local, k: int, offset: int, with_meta: bool):
        """Shared finish: global (score desc, doc_id asc) top-k over a
        (doc_id, score, segment_id) DataFrame — TakeOrderedAndProject
        with the offset folded in — plus the optional row-store meta
        broadcast-join."""
        from pyspark.sql import functions as F

        top = local.orderBy(F.desc("score"), F.asc("doc_id"))
        if offset:
            top = top.offset(offset)
        top = top.limit(k)
        if with_meta:
            segs = [r["segment_id"] for r in top.select("segment_id")
                    .distinct().collect()]
            if self._segment_map:  # merged index: map back to source segs
                segs = [int(old) for old, new in self._segment_map.items()
                        if new in set(segs)]
            ids = [r["doc_id"] for r in top.select("doc_id").collect()]
            turns = (
                self._read_turns()
                .filter(F.col("segment_id").isin(segs)
                        & F.col("doc_id").isin(ids))
            )
            meta_cols = [c for c in turns.columns
                         if c not in ("doc_id", "segment_id", "text")]
            top = (top.join(F.broadcast(turns.select("doc_id", *meta_cols)),
                            "doc_id", "left")
                   .orderBy(F.desc("score"), F.asc("doc_id")))
        return top.drop("segment_id")

    def _all_candidates(self, plan: QueryPlan, keep_cols: tuple = ()):
        """(cand DataFrame (doc_id, segment_id), const) for pure
        match-all queries — the tantivy AllQuery path (all_query.rs):
        membership comes from the ROW STORE, not postings.

        Spark-native and scale-shaped: the range/exists predicates are
        plain column filters pushed into the partitioned parquet scan
        (PushedFilters in the plan), negations are left-anti joins
        against the (exploded) posting lists of the negated terms —
        no driver-side materialization anywhere."""
        from pyspark.sql import functions as F

        turns = self._read_turns()
        cond = F.lit(True)
        for col, lo, hi, lo_inc, hi_inc in plan.range_specs:
            if col not in turns.columns:
                raise ValueError(
                    f"range column {col!r} not in the row store")
            if lo is not None:
                cond = cond & ((F.col(col) >= F.lit(lo)) if lo_inc
                               else (F.col(col) > F.lit(lo)))
            if hi is not None:
                cond = cond & ((F.col(col) <= F.lit(hi)) if hi_inc
                               else (F.col(col) < F.lit(hi)))
        for col, neg in plan.exists_specs:
            if col not in turns.columns:
                raise ValueError(
                    f"exists column {col!r} not in the row store")
            e = F.col(col).isNotNull() & (F.col(col) != F.lit(""))
            cond = cond & (~e if neg else e)
        cand = turns.filter(cond).select(
            "doc_id", "segment_id",
            *[c for c in keep_cols
              if c not in ("doc_id", "segment_id")])
        if self._segment_map:
            # merged index: the row store keeps SOURCE segment ids —
            # map to kernel ids so the meta join prunes correctly
            m = self.spark.createDataFrame(
                [(int(o), int(n))
                 for o, n in self._segment_map.items()],
                "segment_id long, __kseg long")
            cand = (cand.join(F.broadcast(m), "segment_id")
                    .drop("segment_id")
                    .withColumnRenamed("__kseg", "segment_id"))
        negative = plan.pq.negative
        neg_terms = [t for c in negative for t in c.tokens]
        if neg_terms:
            docs = self._term_docs_df(neg_terms)
            for c in negative:
                grp = None
                for t in c.tokens:
                    dt = (docs.filter(F.col("term") == t)
                          .select("doc_id"))
                    grp = dt if grp is None else grp.join(dt, "doc_id")
                if grp is not None:
                    cand = cand.join(grp, "doc_id", "left_anti")
        return cand

    def _term_docs_df(self, terms: list[str]):
        """(term, doc_id) DataFrame: decoded posting doc ids for the
        given terms — a distributed decode of only those terms' blocks
        (the postings scan is pruned by the term IN filter, so the
        work is O(matching postings), never corpus-sized)."""
        from pyspark.sql import functions as F

        def run(batches):
            import pyarrow as pa

            for _seg, by_term in _batch_groups(batches):
                for t, tp in by_term.items():
                    dd = tp.decode_blocks(np.arange(tp.nblocks))[0]
                    yield pa.record_batch(
                        [pa.array([t] * dd.size),
                         pa.array(dd.astype(np.int64))],
                        names=["term", "doc_id"])

        return (self._postings_for(terms).repartition(F.col("segment_id"))
                .mapInArrow(run, schema="term string, doc_id long"))

    def _search_all(self, plan: QueryPlan, k: int, offset: int,
                    with_meta: bool, _count_rows: bool = False):
        """search() for queries with no posting-backed positive clause
        (`*`, `* n_chars:>100`, `* -tool:* -error`): every doc passing
        the row-store filters matches; score = Σ boosts of the `*`
        clauses (AllQuery scores 1.0 × boost) or const_score; ranking
        ties break doc_id asc like everywhere else.

        _count_rows: sentinel-row protocol (one count row per scan
        partition + its local top-seg_k hit rows) for the one-pass
        (Count, TopDocs) harvest — count is always Exact here (the
        row-store scan has no ShortCircuit cap)."""
        from pyspark.sql import functions as F

        score = _match_all_score(plan)
        cand = self._all_candidates(plan)
        if _count_rows:
            seg_k = k + offset
            sc = float(score)

            def run_count(batches):
                parts = [np.asarray(b.column(0).to_numpy(),
                                    dtype=np.int64)
                         for b in batches if b.num_rows]
                if not parts:
                    return
                ids = np.concatenate(parts)
                n = int(ids.size)
                if n > seg_k:
                    top = np.sort(np.partition(ids, seg_k)[:seg_k])
                else:
                    top = np.sort(ids)
                yield _hit_batch([(-1, top, np.full(top.size, sc), n,
                                   False)], "segment_id", True)

            return cand.select("doc_id").mapInArrow(
                run_count,
                schema="doc_id long, score double, segment_id long, "
                       "n long, capped boolean")
        local = cand.withColumn("score", F.lit(float(score)))
        return self._topk_tail(local, k, offset, with_meta)

    def _search_all_local(self, plan: QueryPlan, k: int, offset: int,
                          _with_count: bool = False):
        """Driver-local `_search_all`: one pyarrow read of the
        hive-partitioned row store with the filters pushed down, same
        (score desc = const, doc_id asc) ordering. Small-index path
        only — the distributed :meth:`_search_all` is the scale path."""
        import pyarrow.dataset as ds

        dset = ds.dataset(self._turns_path, format="parquet",
                          partitioning="hive")
        flt = _arrow_row_filter(dset.schema.names, plan.range_specs,
                                plan.exists_specs)
        if "doc_id" in dset.schema.names:
            tbl = dset.to_table(columns=["doc_id"], filter=flt)
            ids = np.asarray(tbl["doc_id"].to_numpy(), dtype=np.int64)
        else:
            tbl = dset.to_table(columns=["__ord", "segment_id"],
                                filter=flt)
            segs = np.asarray(tbl["segment_id"].to_numpy(),
                              dtype=np.int64)
            offs = np.zeros(segs.max() + 1 if segs.size else 1,
                            dtype=np.int64)
            for s, o in self._offsets.items():
                offs[int(s)] = int(o)
            ids = (np.asarray(tbl["__ord"].to_numpy(), dtype=np.int64)
                   + offs[segs])
        negative = plan.pq.negative
        neg_terms = [t for c in negative for t in c.tokens]
        if neg_terms and ids.size:
            ptbl = self._local_postings(neg_terms, False)
            excl_parts = []
            for _seg, by_term in _group_arrow_postings(ptbl):
                sub = None
                for c in negative:
                    grp = None
                    for t in c.tokens:
                        tp = by_term.get(t)
                        dd = (tp.decode_blocks(np.arange(tp.nblocks))[0]
                              if tp is not None and tp.nblocks
                              else np.empty(0, dtype=np.int64))
                        grp = (dd if grp is None
                               else np.intersect1d(grp, dd))
                        if grp.size == 0:
                            break
                    if grp is not None and grp.size:
                        sub = (grp if sub is None
                               else np.union1d(sub, grp))
                if sub is not None and sub.size:
                    excl_parts.append(sub)
            if excl_parts:
                excl = np.unique(np.concatenate(excl_parts))
                ids = ids[~np.isin(ids, excl)]
        n_all = int(ids.size)
        ids = np.sort(ids)[offset:offset + k]
        scores = np.full(ids.size, _match_all_score(plan), dtype=plan.dtype)
        if _with_count:
            return ids, scores, Count(n_all, True)
        return ids, scores

    def signals(self, query: str | ParsedQuery, dtype=np.float64):
        """Per-doc text signals (doc_id, bm25, coverage, idf_sum) for
        every doc matching at least one query term — the reference's
        SignalComputer surface (computer/mod.rs:61-143): bm25 = sum of
        matching contributions, coverage = matched-terms fraction,
        idf_sum = sum of matched idfs. Feed into blend_signals for
        beyond-BM25 ranking (coefficient table signals/core/text.rs)."""
        from pyspark.sql import functions as F

        pq = self._parse(query)
        if any(c.kind != "term" for c in pq.clauses):
            raise ValueError("signals() takes simple term queries "
                             "(reference: query.simple_terms)")
        terms = [c.tokens[0] for c in pq.positive]
        dfs = self.term_dfs(terms)
        weights = self._weights(pq, dfs, dtype)

        def run_arrow(batches):
            import pyarrow as pa

            from .kernel import compute_signals

            empty_tp = TermPostings([], [], [], [], [], [])
            out = {"doc_id": [], "bm25": [], "coverage": [],
                   "idf_sum": []}
            for _seg, by_term in _batch_groups(batches):
                specs = [(by_term.get(t, empty_tp), weights[t])
                         for t in terms]
                docs, bm25, cov, idf = compute_signals(specs,
                                                       dtype=dtype)
                out["doc_id"].append(docs.astype(np.int64))
                out["bm25"].append(bm25.astype(np.float64))
                out["coverage"].append(cov.astype(np.float64))
                out["idf_sum"].append(idf.astype(np.float64))
            if not out["doc_id"]:
                return
            yield pa.record_batch(
                [pa.array(np.concatenate(out[c]))
                 for c in ("doc_id", "bm25", "coverage", "idf_sum")],
                names=["doc_id", "bm25", "coverage", "idf_sum"])

        return (self._postings_for(terms).repartition(F.col("segment_id"))
                .mapInArrow(run_arrow,
                            schema="doc_id long, bm25 double, "
                                   "coverage double, idf_sum double"))

    def search_bm25f(self, query: str | ParsedQuery,
                     k: int = TOP_K_DEFAULT, dtype=np.float32,
                     field_coeffs: dict[str, float] | None = None,
                     offset: int = 0):
        """BM25F top-k over a multi-field index (built with field_cols).

        Semantics per the reference (ranking/bm25f.rs:64-181 + the
        boolean plan of query/plan/mod.rs: each simple term ORs across
        all searchable fields, terms AND together):

        - membership: a doc matches a term if the term occurs in ANY
          scored field; all query terms must match (conjunctive AND);
        - score = sum over (term, field) pairs of
          idf_union(term) * tf_factor(tf * coeff_field, fieldnorm_field)
          — IDF from the union-of-fields df (the AllBody approximation),
          tf saturated against the FIELD's own fieldnorm/avg length,
          field coefficient inside the saturation;
        - attribute filters gate unscored; a negated term excludes docs
          containing it in any field (multi-token negations expand to
          the cross-field combinations).

        Like the reference, BM25F is computed over simple terms only
        (computer/mod.rs:310-340 uses query.simple_terms) — phrases
        raise. field_coeffs maps field name -> tf coefficient (default
        1.0 for every field incl. the primary text field)."""
        from pyspark.sql import functions as F

        pq = self._parse(query)
        extra = list(self.stats.get("field_cols") or [])
        if not extra:
            raise ValueError(
                "index was built without field_cols; use search()")
        if any(c.field for c in pq.clauses):
            raise ValueError(
                "field-scoped terms (`title:term`) are a search() "
                "feature; BM25F already scores every term across all "
                "fields — use field_coeffs to weight a field")
        primary = self.stats.get("text_col", "text")
        fields = [primary] + extra
        coeffs = {f: 1.0 for f in fields}
        for f, c in (field_coeffs or {}).items():
            if f not in coeffs:
                raise ValueError(f"unknown field {f!r}; index has {fields}")
            coeffs[f] = float(c)
        if any(c.kind == "phrase" for c in pq.clauses):
            raise ValueError("BM25F scores simple terms only")
        num_docs = self.num_docs
        avgfn = {primary: self.avg_fieldnorm}
        ftoks = self.stats.get("field_tokens") or {}
        for g in extra:
            # a corpus-wide-empty field has no postings to score; 1.0
            # keeps the (never-evaluated) norm cache finite
            avgfn[g] = ((ftoks.get(g, 0) or 0) / num_docs) or 1.0

        def key(t: str, f: str) -> str:
            return t if f == primary else f"f:{f}:{t}"

        text_terms = [t for c in pq.clauses for t in c.tokens
                      if ":" not in t]
        attr_terms = [t for c in pq.clauses for t in c.tokens
                      if ":" in t]
        union_keys = ["u:" + t for t in text_terms]
        field_keys = [key(t, f) for t in text_terms for f in fields]
        dfs = self.term_dfs(list(dict.fromkeys(
            union_keys + field_keys + attr_terms)))
        # dead required clause: term absent from every field / filter
        for c in pq.positive:
            t = c.tokens[0]
            df0 = dfs[t if ":" in t else "u:" + t]
            if df0 == 0:
                return self._empty_result()
        fweights = {
            (t, f): Bm25FWeight(dfs["u:" + t], num_docs, avgfn[f],
                                coeff=coeffs[f], dtype=dtype)
            for t in dict.fromkeys(text_terms) for f in fields}

        # negation groups: a doc is excluded when every token of the
        # group matches; a text token matches in any field, so groups
        # expand to the cross-field combinations
        import itertools

        neg_key_groups: list[list[str]] = []
        for c in pq.negative:
            per_tok = [[c_tok] if ":" in c_tok
                       else [key(c_tok, f) for f in fields]
                       for c_tok in c.tokens]
            neg_key_groups.extend(
                list(combo) for combo in itertools.product(*per_tok))

        scan_terms = list(dict.fromkeys(
            field_keys + attr_terms
            + [t for g in neg_key_groups for t in g]))
        seg_k = k + offset
        clauses = list(pq.clauses)

        def eval_by_term(by_term: dict):
            empty_tp = TermPostings([], [], [], [], [], [])
            specs = []
            for c in clauses:
                if c.kind == "not":
                    continue
                t = c.tokens[0]
                if c.kind == "filter" or ":" in t:
                    specs.append(
                        ("filter", by_term.get(t, empty_tp), None))
                else:
                    members = [(by_term.get(key(t, f), empty_tp),
                                fweights[(t, f)]) for f in fields]
                    specs.append(("or", members, None))
            negs = [[by_term.get(t, empty_tp) for t in g]
                    for g in neg_key_groups]
            return segment_topk(specs, negs, seg_k, dtype=dtype)

        def run_arrow(batches):
            batch = _hit_batch(
                [(seg,) + eval_by_term(by_term) + (0, False)
                 for seg, by_term in _batch_groups(batches)],
                "segment_id", False)
            if batch is not None:
                yield batch

        local = self._shape(
            self._postings_for(scan_terms),
            _est_blocks(dfs.get(t, 0) for t in scan_terms)).mapInArrow(
            run_arrow, schema="doc_id long, score double, segment_id long")
        top = local.orderBy(F.desc("score"), F.asc("doc_id"))
        if offset:
            top = top.offset(offset)
        return top.limit(k).drop("segment_id")

    def search_many(self, queries: dict, k: int = TOP_K_DEFAULT,
                    dtype=np.float32, compound_terms: bool | None = None,
                    stemmed: bool | None = None,
                    with_count: bool = False):
        """Evaluate MANY queries in ONE Spark job — queries as data.

        One postings scan filtered by the union of all query terms; each
        segment kernel builds its TermPostings once and evaluates every
        query against them; a windowed global merge ranks per query.
        Amortizes the per-job overhead that dominates single-query
        latency in local mode (the analog of the reference's
        shard-parallel query fan-out, but across the query set).

        Each value of `queries` is a query string / ParsedQuery, or a
        dict spec {"q": ..., "should": ..., "offset": int,
        "bm25f": bool, "field_coeffs": {...}} — the batch path has full
        feature parity with search(): compound/stemmed augmentation
        (same index-flag defaults), Should clauses that score but never
        gate, per-query pagination offsets, and per-query BM25F over a
        multi-field index (every shard query goes through the same plan
        build in the reference, crates/core/src/query/mod.rs:77-154).
        Specs may carry "lang" to route language-aware stemming per
        query and "optic" (a Rule list or an Optic) applied with the
        same semantics as search(optic=), and "max_docs" (the
        per-segment ShortCircuit cap, search()'s
        max_docs_per_segment).

        A bm25f query scores with search_bm25f semantics (union-df IDF,
        per-field fieldnorms, coefficient inside the saturation) and
        rides the same or-group machinery — one member per field. bm25f
        specs take simple positive terms + filters (no phrases/
        negations/should — use search_bm25f for those edges).

        Returns DataFrame (query, rank, doc_id, score); rank is 1-based
        after the query's offset.

        with_count=True: the batch tuple collector — each result row
        also carries `total` (the query's hit count across the whole
        index) and `total_exact` (False when a per-query ShortCircuit
        cap truncated any segment, which reports the term-independence
        estimate instead — ApproxCount composition,
        collector/approx_count.rs:28-85). Same single posting scan:
        per-(query, segment) sentinel count rows ride the kernel
        output and fold into a window sum in the SAME per-query
        shuffle the ranking already pays. A query with zero hits has
        no rows (unchanged from with_count=False).
        """
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        # planning in two steps around ONE term_dfs for the whole batch
        plans: dict[str, QueryPlan] = {}
        jobs: dict[str, tuple] = {}  # name -> (offset, max_docs)
        for name, v in queries.items():
            spec = v if isinstance(v, dict) else {"q": v}
            plan = self._plan_terms(
                spec["q"], dtype=dtype, should=spec.get("should"),
                compound_terms=compound_terms, stemmed=stemmed,
                lang=spec.get("lang"),
                fuzzy_transpositions=bool(
                    spec.get("fuzzy_transpositions")),
                optic=spec.get("optic"),
                bm25f=((spec.get("field_coeffs") or {})
                       if spec.get("bm25f") else None))
            if plan.match_all:
                raise ValueError(
                    f"batch query {name!r} has no posting-backed "
                    "positive clause — run pure match-all queries "
                    "through search()")
            plans[name] = plan
            md = spec.get("max_docs")
            jobs[name] = (int(spec.get("offset", 0)),
                          int(md) if md is not None else None)
        # BM25F weights take their IDF from the union-of-fields df
        union_keys = {"u:" + c.tokens[0] for p in plans.values()
                      if p.bm25f is not None
                      for c in p.pq.positive if c.kind == "term"}
        dfs = self.term_dfs(sorted(
            {t for p in plans.values() for t in p.terms} | union_keys))
        # queries with a dead required clause are dropped up front
        live = {name: p for name, p in plans.items()
                if not self._plan_stats(p, dfs).dead}
        if not live:
            extra = (", CAST(NULL AS LONG) AS total, "
                     "CAST(NULL AS BOOLEAN) AS total_exact"
                     if with_count else "")
            return self.spark.sql(
                "SELECT CAST(NULL AS STRING) AS query, "
                "CAST(NULL AS INT) AS rank, CAST(NULL AS LONG) AS doc_id, "
                f"CAST(NULL AS DOUBLE) AS score{extra} WHERE 1=0")
        seg_docs = (self.segment_docs
                    if with_count and any(md is not None
                                          for _, md in jobs.values())
                    else None)

        def run_arrow(batches):
            # the whole query set per segment group
            parts = []
            for seg, by_term in _batch_groups(batches):
                for name, plan in live.items():
                    off, md = jobs[name]
                    parts.append((name,) + _eval_group(
                        plan, by_term, seg, k + off, with_count, md,
                        seg_docs))
            batch = _hit_batch(parts, "query", with_count)
            if batch is not None:
                yield batch

        postings = self._postings_for(
            sorted({t for p in live.values() for t in p.terms}),
            any(p.positions for p in live.values()))
        local = postings.repartition(F.col("segment_id")).mapInArrow(
            run_arrow,
            schema="doc_id long, score double, query string"
                   + (", n long, capped boolean" if with_count else ""))
        if with_count:
            # fold the sentinel rows into per-query totals inside the
            # SAME per-query shuffle the ranking window already pays
            # (both windows hash-partition on query -> one Exchange)
            wq = Window.partitionBy("query")
            sent = F.when(F.col("n") >= 0, F.col("n"))
            local = (local
                     .withColumn("total", F.sum(sent).over(wq))
                     .withColumn(
                         "total_exact",
                         F.max(F.when(F.col("n") >= 0,
                                      F.col("capped").cast("int"))
                               .otherwise(F.lit(0))).over(wq) == 0)
                     .filter(F.col("n") < 0)
                     .drop("n", "capped"))
        w = (Window.partitionBy("query")
             .orderBy(F.desc("score"), F.asc("doc_id")))
        ranked = local.withColumn("rk", F.row_number().over(w))
        if any(off for off, _ in jobs.values()):
            off_map = F.create_map(*[
                x for name in live
                for x in (F.lit(name), F.lit(jobs[name][0]))])
            ranked = (ranked
                      .withColumn("__off", off_map[F.col("query")])
                      .filter(F.col("rk") > F.col("__off"))
                      .withColumn("rank", (F.col("rk") - F.col("__off"))
                                  .cast("int"))
                      .filter(F.col("rank") <= k))
        else:
            ranked = (ranked.filter(F.col("rk") <= k)
                      .withColumn("rank", F.col("rk").cast("int")))
        out_cols = ["query", "rank", "doc_id", "score"] + (
            ["total", "total_exact"] if with_count else [])
        return ranked.select(*out_cols)

    def _empty_result(self):
        # NOT createDataFrame([], ...): that path costs ~350 ms per call
        # (arrow/py4j setup); an empty SQL relation is ~10x cheaper
        return self.spark.sql(
            "SELECT CAST(NULL AS LONG) AS doc_id, "
            "CAST(NULL AS DOUBLE) AS score WHERE 1=0")

    def _local_postings(self, terms: list[str], with_positions: bool):
        """Driver-local pyarrow read of the pruned posting rows: the
        term-IN filter prunes parquet row-groups via min/max stats
        (postings are written term-sorted within each segment), so a
        small query reads KBs, not the index."""
        import pyarrow.dataset as ds

        cols = _POSTING_COLS + (["positions"] if with_positions else [])
        if self._local_pruned is not False:
            try:
                if self._local_pruned is None:
                    self._local_pruned = _PrunedPostingsReader(
                        self._postings_path)
                return self._local_pruned.read(terms, cols)
            except Exception as e:
                # non-local fs, >fd-cap segment count, statistics quirks
                # — permanently route this reader to the dataset scan
                logging.getLogger("cuely_spark").warning(
                    "pruned posting reader unavailable for %s (%r); "
                    "this reader falls back to the dataset scan",
                    self._postings_path, e)
                self._local_pruned = False
        if self._local_dataset is None:
            # cache the dataset object: file discovery over the segment
            # dirs costs tens of ms and freezes the snapshot exactly
            # like postings_df does for the distributed path
            self._local_dataset = ds.dataset(self._postings_path,
                                             format="parquet",
                                             partitioning="hive")
        return self._local_dataset.to_table(
            columns=cols, filter=ds.field("term").isin(terms))

    def search_local(self, query: str | ParsedQuery,
                     k: int = TOP_K_DEFAULT, dtype=np.float32,
                     occur: str = "must", offset: int = 0,
                     should: str | ParsedQuery | None = None,
                     compound_terms: bool | None = None,
                     stemmed: bool | None = None,
                     lang: str | None = None,
                     fuzzy_transpositions: bool = False,
                     tie_breaker: float = 0.0,
                     const_score: float | None = None,
                     _with_count: bool = False):
        """Driver-local execution: pyarrow-pruned posting read + the
        SAME numpy segment kernel and merge order as the distributed
        path — no Spark job. Returns (doc_ids, scores) numpy arrays.

        This is the coordinator-handles-small-queries path taken to its
        conclusion: the reference executes a query in-process on a
        searcher thread (crates/core/src/inverted_index/search.rs); in
        Spark local mode a KB-scale posting read still pays a
        ~0.3-0.4 s job-scheduling floor, which this path removes. The
        distributed :meth:`search` stays the default for DataFrame
        consumers and every correctness gate; rank identity between the
        two paths is pinned by tests/test_local_path.py."""
        plan = self._plan(
            query, dtype=dtype, occur=occur, should=should,
            compound_terms=compound_terms, stemmed=stemmed, lang=lang,
            fuzzy_transpositions=fuzzy_transpositions,
            tie_breaker=tie_breaker, const_score=const_score)
        if plan.match_all:
            return self._search_all_local(plan, k, offset, _with_count)
        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=plan.dtype))
        if plan.dead:
            return empty + ((Count(0, True),) if _with_count else ())
        tbl = self._local_postings(plan.terms, plan.positions)
        # single-pass fast path: no per-segment state needed (range /
        # exists filters and optic end anchors build per-segment lookup
        # fns) -> run the kernel ONCE over the whole index as one
        # logical segment
        groups = None
        if plan.rng_ctx is None and plan.index_path is None:
            by_term_all = _concat_arrow_postings(tbl)
            if by_term_all is not None:
                groups = [(None, by_term_all)] if by_term_all else []
        if groups is None:
            groups = _group_arrow_postings(tbl)
        n_total = 0  # no ShortCircuit cap on this path: always Exact
        parts = []
        for seg, by_term in groups:
            docs, scores, n, _capped = _eval_group(
                plan, by_term, seg, k + offset, _with_count)
            n_total += n
            if docs.size:
                parts.append((docs, scores))
        count = (Count(n_total, True),) if _with_count else ()
        if not parts:
            return empty + count
        docs = np.concatenate([p[0] for p in parts])
        scores = np.concatenate([p[1] for p in parts])
        # global merge: score desc, doc_id asc — identical to the
        # distributed TakeOrderedAndProject ordering
        order = np.lexsort((docs, -scores.astype(np.float64)))
        order = order[offset:offset + k]
        return (docs[order], scores[order]) + count

    def search_collect(self, query, k: int = TOP_K_DEFAULT,
                       dtype=np.float32, local: bool | None = None):
        """(doc_ids, scores) numpy arrays.

        local=None auto-routes: queries whose estimated posting-block
        count is at or below `local_threshold` run driver-locally
        (:meth:`search_local`), larger ones through the distributed
        engine. local=True/False forces a path."""
        plan = self._plan(query, dtype=dtype)
        if local is None:
            local = self._route_local(plan)
        if local:
            return self.search_local(plan, k=k)
        rows = self.search(plan, k=k).collect()
        return (np.array([r["doc_id"] for r in rows], dtype=np.int64),
                np.array([r["score"] for r in rows], dtype=dtype))

    def search_with_count(self, query, k: int = TOP_K_DEFAULT,
                          dtype=np.float32, offset: int = 0,
                          occur: str = "must",
                          should=None,
                          compound_terms: bool | None = None,
                          stemmed: bool | None = None,
                          lang: str | None = None,
                          fuzzy_transpositions: bool = False,
                          tie_breaker: float = 0.0,
                          const_score: float | None = None,
                          max_docs_per_segment: int | None = None,
                          local: bool | None = None):
        """(doc_ids, scores, Count) — top-k hits AND the total hit
        count from ONE pass over the postings.

        The reference never runs count as a second query: its searcher
        composes a `(Count, TopDocs)` (or `(ApproxCount, TopDocs)`
        under ShortCircuit) tuple collector over a single scorer walk
        (crates/core/src/inverted_index/search.rs:47-95,
        crates/core/src/collector/approx_count.rs:28-85). This is that
        surface: at 100 TB it halves the dominant cost (the posting
        scan) for every page-1 SERP-style request, which always needs
        both the hits and "about N results".

        Count semantics: `Count.exact` is True unless any segment's
        candidate stream was truncated by `max_docs_per_segment` —
        a capped segment reports max(matches_seen, term-independence
        estimate df₁·df₂·…/N^(t-1)) and poisons exactness, exactly the
        reference's `ApproxCount` composition
        (approx_count.rs:104-211). The top-k rows themselves are
        IDENTICAL to :meth:`search` / :meth:`search_collect` (rank
        parity pinned by tests/test_search_with_count.py).

        local=None auto-routes like :meth:`search_collect` (driver-
        local kernel below `local_threshold` posting blocks, Spark
        above); the local path never caps, so its count is always
        Exact."""
        plan = self._plan(
            query, dtype=dtype, occur=occur, should=should,
            compound_terms=compound_terms, stemmed=stemmed, lang=lang,
            fuzzy_transpositions=fuzzy_transpositions,
            tie_breaker=tie_breaker, const_score=const_score)
        if max_docs_per_segment is not None:
            local = False  # ShortCircuit cap is distributed-only
        if local is None:
            local = self._route_local(plan)
        if local:
            return self.search_local(plan, k=k, offset=offset,
                                     _with_count=True)
        res = self.search(plan, k=k, offset=offset,
                          max_docs_per_segment=max_docs_per_segment,
                          _count_rows=True)
        if res is None:  # dead query: no candidate can match
            return (np.empty(0, dtype=np.int64),
                    np.empty(0, dtype=dtype), Count(0, True))
        rows = res.collect()
        n = 0
        exact = True
        docs_l, scores_l = [], []
        for r in rows:
            if r["n"] >= 0:  # sentinel count row
                n += int(r["n"])
                exact = exact and not r["capped"]
            else:
                docs_l.append(r["doc_id"])
                scores_l.append(r["score"])
        docs = np.array(docs_l, dtype=np.int64)
        scores = np.array(scores_l, dtype=np.float64)
        # same global ordering as _topk_tail: score desc, doc_id asc
        order = np.lexsort((docs, -scores))
        sel = order[offset:offset + k]
        return docs[sel], scores[sel].astype(dtype), Count(n, exact)

    def search_diverse(self, query, k: int = TOP_K_DEFAULT,
                       penalties: dict[str, float] | None = None,
                       de_rank_similar: bool = True,
                       dtype=np.float32,
                       max_docs_per_segment: int | None = 250_000,
                       hamming_k: int = 3,
                       compound_terms: bool | None = None,
                       stemmed: bool | None = None,
                       lang: str | None = None):
        """Diversity-re-ranked top-k — the reference's BucketCollector
        SERP path (crates/core/src/collector/top_docs.rs:246-363 +
        crates/core/src/searcher/api/mod.rs:459): the greedy selection
        repeatedly takes the best doc by
        raw_score / (1 + Σ_col taken(bucket) × penalty), so results
        sharing a bucket (same conversation, same source, near-equal
        text) with already-picked results are pushed down the page.

        penalties: {row_store_column: penalty} — the site/url/title
        penalty table analog (defaults.rs:22-36: site 0.1, title 1.0,
        url 20.0; here the caller names the columns, e.g.
        {"conv_id": 0.1, "source": 1.0}). Bucket identity is the
        md5-h60 of the column value, consistent across segments.

        de_rank_similar: near-duplicate suppression — a candidate
        whose stored 60-bit simhash is within `hamming_k` bits of an
        already-picked doc is deferred behind the diversified picks
        (simhash.rs Table, K=3; into_sorted_vec(true)). Requires an
        index built with `store_simhash=True` (the SimHash
        columnfield analog).

        Two-level greedy exactly like the reference: each segment
        diversifies its own candidates (bounded by
        max_docs_per_segment = max_docs_considered, defaults.rs:38-40)
        and ships only its top-k picks with their bucket ids; the
        driver re-runs the same greedy over segments × k rows (the
        root searcher's second into_sorted_vec). On a single-segment
        index this equals the global greedy — pinned by tests.

        Conjunctive queries only (terms/phrases/filters/negations +
        compound/stem augmentation). Returns (doc_ids, scores) in
        final diversified rank order; scores are the RAW BM25 scores
        (the adjustment orders, it does not rescore — ScoredDoc keeps
        doc.score()).
        """
        from .kernel import diversity_rerank

        pq = self._parse(query)
        if not any(c.kind in ("term", "phrase", "filter", "termset")
                   for c in pq.positive):
            raise ValueError("search_diverse needs a posting-backed "
                             "positive clause")
        if any(c.kind in ("range", "exists", "all")
               for c in pq.positive):
            raise ValueError("search_diverse takes conjunctive "
                             "term/phrase/filter queries")
        pen_cols = list(penalties or {})
        pen_vals = [float(penalties[c]) for c in pen_cols]
        if pen_cols:
            self._validate_range_cols([(c,) for c in pen_cols])
        sim_col = None
        if de_rank_similar:
            try:
                self._validate_range_cols([("simhash",)])
            except ValueError:
                raise ValueError(
                    "de_rank_similar needs a stored simhash column — "
                    "build the index with store_simhash=True (or pass "
                    "de_rank_similar=False)") from None
            sim_col = "simhash"
        plan = self._plan(pq, dtype=dtype, compound_terms=compound_terms,
                          stemmed=stemmed, lang=lang)
        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=dtype))
        if plan.dead:
            return empty
        troot = self._turns_path
        ssrc = self._seg_sources()
        offs = self._offsets
        cap = max_docs_per_segment
        look_cols = pen_cols + ([sim_col] if sim_col else [])
        kk = int(k)
        hk = int(hamming_k)

        def run_arrow(batches):
            import pyarrow as pa

            d_o, s_o, g_o = [], [], []
            sim_o = []
            b_o: list[list] = [[] for _ in pen_cols]
            for seg, by_term in _batch_groups(batches):
                # full per-segment candidate set (bounded by the
                # considered-docs cap), scored and sorted
                docs, scores, _n, _c = _eval_group(plan, by_term, seg,
                                                   1 << 62, max_docs=cap)
                if docs.size == 0:
                    continue
                vals = {}
                if look_cols:
                    dirs = ssrc.get(seg, [seg]) if ssrc else [seg]
                    vals = _cols_lookup(troot, dirs, look_cols,
                                        offs)(docs)
                bks = [_bucket_ids(vals[c]) for c in pen_cols]
                sims = None
                if sim_col:
                    sims = np.array(
                        [0 if v is None else int(v)
                         for v in vals[sim_col]], dtype=np.int64)
                order, _nd = diversity_rerank(
                    docs, scores, bks, pen_vals, kk,
                    simhashes=sims, hamming_k=hk)
                d_o.append(docs[order].astype(np.int64))
                s_o.append(scores[order].astype(np.float64))
                g_o.append(np.full(order.size, seg, dtype=np.int64))
                sim_o.append(sims[order] if sims is not None
                             else np.zeros(order.size, dtype=np.int64))
                for ci in range(len(pen_cols)):
                    b_o[ci].append(bks[ci][order])
            if not d_o:
                return
            arrs = [pa.array(np.concatenate(d_o)),
                    pa.array(np.concatenate(s_o)),
                    pa.array(np.concatenate(g_o)),
                    pa.array(np.concatenate(sim_o))]
            names = ["doc_id", "score", "segment_id", "sim"]
            for ci in range(len(pen_cols)):
                arrs.append(pa.array(np.concatenate(b_o[ci])))
                names.append(f"b{ci}")
            yield pa.record_batch(arrs, names=names)

        schema = ("doc_id long, score double, segment_id long, "
                  "sim long"
                  + "".join(f", b{ci} long"
                            for ci in range(len(pen_cols))))
        rows = self._shape(
            self._postings_for(plan.terms, plan.positions),
            plan.est_blocks).mapInArrow(run_arrow, schema=schema).collect()
        if not rows:
            return empty
        # root harvest: the SAME greedy over segments × k picks
        docs = np.array([r["doc_id"] for r in rows], dtype=np.int64)
        scores = np.array([r["score"] for r in rows], dtype=np.float64)
        sims = (np.array([r["sim"] for r in rows], dtype=np.int64)
                if sim_col else None)
        bks = [np.array([r[f"b{ci}"] for r in rows], dtype=np.int64)
               for ci in range(len(pen_cols))]
        order, _nd = diversity_rerank(docs, scores, bks, pen_vals, kk,
                                      simhashes=sims, hamming_k=hk)
        return docs[order], scores[order].astype(dtype)

    # ------------------------------------------------------------------
    def count(self, query: str | ParsedQuery,
              compound_terms: bool | None = None,
              stemmed: bool | None = None,
              lang: str | None = None) -> int:
        """Exact match count (reference Count collector). Applies the
        same compound/stemmed augmentation defaults as search(), so
        count(q) == number of rows search(q, k=num_docs) returns."""
        from pyspark.sql import functions as F

        plan = self._plan(query, compound_terms=compound_terms,
                          stemmed=stemmed, lang=lang)
        pq = plan.pq
        if plan.match_all:
            # pure match-all: count the row-store scan (same candidate
            # pipeline as _search_all)
            return self._all_candidates(plan).count()
        if plan.dead:
            return 0
        # fast path: single positive term, no negation/alternatives ->
        # df straight from stats
        if (len(pq.positive) == 1 and pq.positive[0].kind == "term"
                and not pq.negative and not plan.compounds):
            return plan.dfs[pq.positive[0].tokens[0]]
        # small-query routing, same cost model as search_collect: run
        # the count kernel driver-locally below the posting-block
        # threshold (rank/count parity between the paths is pinned by
        # tests); big queries fan out below
        if self._route_local(plan):
            return int(self.search_local(plan, k=1,
                                         _with_count=True)[2].value)

        def run_arrow(batches):
            import pyarrow as pa

            total = 0
            for seg, by_term in _batch_groups(batches):
                specs, negs = _make_specs(pq, plan.weights, by_term,
                                          plan.dtype,
                                          compounds=plan.compounds)
                total += count_matches(specs, negs,
                                       range_fns=_range_fns(plan, seg))
            yield pa.record_batch([pa.array([total], type=pa.int64())],
                                  names=["n"])

        rows = (self._postings_for(plan.terms, plan.positions)
                .repartition(F.col("segment_id"))
                .mapInArrow(run_arrow, schema="n long")
                .agg(F.sum("n").alias("n")).collect())
        return int(rows[0]["n"] or 0)

    def _agg_preamble(self, query, cols: list[str], compound_terms,
                      stemmed, lang) -> QueryPlan:
        """Shared head of every aggregation surface: validate the
        requested row-store columns, then plan the query (plan.match_all
        marks row-store rather than posting-backed membership). One
        definition so the seven consumers cannot drift."""
        self._validate_range_cols([(c,) for c in cols])
        return self._plan(query, compound_terms=compound_terms,
                          stemmed=stemmed, lang=lang)

    def facet_counts(self, query: str | ParsedQuery,
                     by: str | list[str], k: int = 50,
                     compound_terms: bool | None = None,
                     stemmed: bool | None = None,
                     lang: str | None = None):
        """Terms aggregation over the matching docs — the tantivy
        aggregation module's bucket terms aggregation over a fast
        field (crates/tantivy/src/aggregation/bucket/term_agg.rs),
        i.e. Elasticsearch-style facet counts alongside search.

        Returns a DataFrame (col, value, count): for each `by`
        row-store column, the top-k attribute values among docs
        matching `query`, ordered count desc then value asc per
        column. Values are returned as strings; NULL attribute values
        are dropped (the terms aggregation ignores missing values).

        Scale shape: the SAME single term-pruned postings scan as
        search()/count(); each segment task computes its matched ids
        with the count kernel (kernel.matching_docs), fetches the
        `by` columns for exactly those ids via the partition-pruned
        executor-local row-store read (_cols_lookup — the fast-field
        reader analog), and emits PARTIAL (col, value, count) rows.
        Only bucket partials cross the wire; the corpus never
        shuffles, and nothing corpus-sized reaches the driver."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        cols = [by] if isinstance(by, str) else list(by)
        if not cols:
            raise ValueError("facet_counts needs >= 1 `by` column")
        plan = self._agg_preamble(query, cols, compound_terms, stemmed,
                                  lang)

        def _rank(counts):
            # one exchange serves both the (col,value) aggregation and
            # the per-col window: hash(col) clusters every (col,value)
            # group AND every window partition (guide: window keyed
            # like the preceding aggregation needs no second shuffle);
            # the final total order runs on the <= k*len(cols) result
            # rows in one task — no range-partitioning exchange or its
            # sampling job
            w = Window.partitionBy("col").orderBy(
                F.desc("count"), F.asc("value"))
            return (counts.withColumn("__r", F.row_number().over(w))
                    .filter(F.col("__r") <= k).drop("__r")
                    .coalesce(1)
                    .sortWithinPartitions("col", F.desc("count"),
                                          F.asc("value")))

        if plan.match_all:
            # pure match-all: facet the row-store scan directly (same
            # candidate pipeline as _search_all; the only exchange is
            # the partial-agg bucket shuffle)
            cand = self._all_candidates(plan, keep_cols=tuple(cols))
            parts = [
                (cand.filter(F.col(c).isNotNull())
                 .groupBy(F.lit(c).alias("col"),
                          F.col(c).cast("string").alias("value"))
                 .agg(F.count("*").alias("count")))
                for c in cols]
            counts = parts[0]
            for p in parts[1:]:
                counts = counts.unionByName(p)
            return _rank(counts)

        def make_rows(vals: dict):
            out_c, out_v, out_n = [], [], []
            for c in cols:
                sv = [_str_val(x) for x in vals[c] if not _missing(x)]
                if not sv:
                    continue
                uniq, cnt = np.unique(np.array(sv, dtype=object),
                                      return_counts=True)
                out_c.extend([c] * uniq.size)
                out_v.extend(uniq.tolist())
                out_n.extend(cnt.tolist())
            if not out_c:
                return None
            return [out_c, out_v, np.asarray(out_n, dtype=np.int64)]

        partials = self._matched_values_scan(
            plan, cols, make_rows, "col string, value string, count long")
        if partials is None:  # dead clause
            return self.spark.createDataFrame(
                [], "col string, value string, count long")
        counts = (partials.repartition(F.col("col"))
                  .groupBy("col", "value")
                  .agg(F.sum("count").alias("count")))
        return _rank(counts)

    def _matched_values_scan(self, plan: QueryPlan, cols: list[str],
                             make_rows, out_schema: str):
        """Shared aggregation scan (the tantivy aggregation
        SegmentCollector shape, crates/tantivy/src/aggregation/):
        the SAME term-pruned postings scan as search()/count(); each
        segment task computes its matched ids with the count kernel
        (kernel.matching_docs), reads the requested row-store columns
        for exactly those ids via the partition-pruned executor-local
        read (_cols_lookup, the fast-field reader analog), and emits
        whatever per-segment PARTIAL rows `make_rows(col->values)`
        returns (a list of arrow-able columns matching `out_schema`,
        or None to skip). Only partials shuffle; the corpus never
        moves. Returns the mapInArrow DataFrame, or None when a
        required clause is dead."""
        from .kernel import matching_docs

        if plan.dead:
            return None
        troot, ssrc, offs = (self._turns_path, self._seg_sources(),
                             self._offsets)
        names = [f.split()[0] for f in out_schema.split(", ")]

        def run_arrow(batches):
            import pyarrow as pa

            for seg, by_term in _batch_groups(batches):
                specs, negs = _make_specs(plan.pq, plan.weights, by_term,
                                          plan.dtype,
                                          compounds=plan.compounds)
                ids = matching_docs(specs, negs,
                                    range_fns=_range_fns(plan, seg))
                if ids.size == 0:
                    continue
                dirs = ssrc.get(seg, [seg]) if ssrc else [seg]
                rows = make_rows(_cols_lookup(troot, dirs, cols, offs)(ids))
                if rows is not None:
                    yield pa.record_batch(
                        [pa.array(r) for r in rows], names=names)

        # same small/large routing as search()
        return self._shape(self._postings_for(plan.terms, plan.positions),
                           plan.est_blocks).mapInArrow(run_arrow,
                                                       schema=out_schema)

    def agg_stats(self, query: str | ParsedQuery,
                  by: str | list[str],
                  compound_terms: bool | None = None,
                  stemmed: bool | None = None,
                  lang: str | None = None):
        """Metric (extended) stats aggregation over the matching docs
        — the tantivy aggregation module's Stats/ExtendedStats
        aggregations over a fast field (crates/tantivy/src/
        aggregation/metric/stats.rs): count / sum / avg / min / max /
        variance / stddev of numeric row-store columns among docs
        matching `query` (NULLs ignored, like the metric
        aggregations; population variance = sumsq/n - (sum/n)^2, the
        extended_stats definition). Returns a DataFrame (col, count,
        sum, avg, min, max, variance, stddev), one row per `by`
        column, in `by` order.

        Same scale shape as facet_counts: per-segment partials
        (count, sum, min, max) from the shared aggregation scan; avg
        derived after the one tiny partial merge."""
        from pyspark.sql import functions as F

        cols = [by] if isinstance(by, str) else list(by)
        if not cols:
            raise ValueError("agg_stats needs >= 1 `by` column")
        plan = self._agg_preamble(query, cols, compound_terms, stemmed,
                                  lang)
        order = F.array_position(
            F.lit([str(c) for c in cols]), F.col("col"))

        def finish(partials):
            mean = F.sum("sum") / F.sum("count")
            var = (F.sum("sumsq") / F.sum("count")) - mean * mean
            # result is one row per `by` column: total-order it in one
            # task instead of paying orderBy's range-partitioning
            # exchange + sampling job
            return (partials.groupBy("col")
                    .agg(F.sum("count").alias("count"),
                         F.sum("sum").alias("sum"),
                         mean.alias("avg"),
                         F.min("min").alias("min"),
                         F.max("max").alias("max"),
                         var.alias("variance"),
                         F.sqrt(var).alias("stddev"))
                    .coalesce(1).sortWithinPartitions(order))

        if plan.match_all:
            cand = self._all_candidates(plan, keep_cols=tuple(cols))
            parts = [
                (cand.filter(F.col(c).isNotNull())
                 .groupBy(F.lit(c).alias("col"))
                 .agg(F.count("*").alias("count"),
                      F.sum(F.col(c).cast("double")).alias("sum"),
                      F.min(F.col(c).cast("double")).alias("min"),
                      F.max(F.col(c).cast("double")).alias("max"),
                      F.sum(F.col(c).cast("double")
                            * F.col(c).cast("double")).alias("sumsq")))
                for c in cols]
            partials = parts[0]
            for pp in parts[1:]:
                partials = partials.unionByName(pp)
            return finish(partials)

        def make_rows(vals: dict):
            out = {"col": [], "count": [], "sum": [], "min": [],
                   "max": [], "sumsq": []}
            for c in cols:
                v = np.array([_num_val(x) for x in vals[c]
                              if not _missing(x)], dtype=np.float64)
                if v.size == 0:
                    continue
                out["col"].append(c)
                out["count"].append(int(v.size))
                out["sum"].append(float(v.sum()))
                out["min"].append(float(v.min()))
                out["max"].append(float(v.max()))
                out["sumsq"].append(float((v * v).sum()))
            if not out["col"]:
                return None
            return [out["col"],
                    np.asarray(out["count"], dtype=np.int64),
                    np.asarray(out["sum"]), np.asarray(out["min"]),
                    np.asarray(out["max"]), np.asarray(out["sumsq"])]

        schema = ("col string, count long, sum double, min double, "
                  "max double, sumsq double")
        partials = self._matched_values_scan(
            plan, cols, make_rows, schema)
        if partials is None:
            return self.spark.createDataFrame(
                [], "col string, count long, sum double, avg double, "
                    "min double, max double, variance double, "
                    "stddev double")
        return finish(partials)

    def range_buckets(self, query: str | ParsedQuery, col: str,
                      edges: list[float],
                      compound_terms: bool | None = None,
                      stemmed: bool | None = None,
                      lang: str | None = None):
        """Range-bucket aggregation over the matching docs — the
        tantivy aggregation module's RangeAggregation
        (crates/tantivy/src/aggregation/bucket/range.rs): N edges
        define N+1 half-open buckets (-inf, e0), [e0, e1), ...,
        [eN-1, inf); every bucket is emitted, zero-count included
        (tantivy semantics). Returns (lo, hi, count) with NULL lo/hi
        at the unbounded ends, bucket order. NULL values dropped."""
        from pyspark.sql import functions as F

        edges = [float(e) for e in edges]
        if not edges or sorted(edges) != edges or len(set(edges)) != \
                len(edges):
            raise ValueError(
                "range_buckets needs >= 1 strictly increasing edges")
        plan = self._agg_preamble(query, [col], compound_terms, stemmed,
                                  lang)
        bounds = [(None, edges[0])] + list(
            zip(edges[:-1], edges[1:])) + [(edges[-1], None)]
        defs = self.spark.createDataFrame(
            [(i, lo, hi) for i, (lo, hi) in enumerate(bounds)],
            "idx int, lo double, hi double")

        def finish(idx_counts):
            return (defs.join(idx_counts, "idx", "left")
                    .fillna(0, subset=["count"])
                    .orderBy("idx")
                    .select("lo", "hi", F.col("count").cast("long")
                            .alias("count")))

        if plan.match_all:
            cand = self._all_candidates(plan, keep_cols=(col,))
            v = F.col(col).cast("double")
            idx = sum((v >= F.lit(e)).cast("int") for e in edges)
            return finish(cand.filter(F.col(col).isNotNull())
                          .groupBy(idx.alias("idx"))
                          .agg(F.count("*").alias("count")))

        def make_rows(vals: dict):
            v = np.array([_num_val(x)
                          for x in vals[col] if not _missing(x)],
                         dtype=np.float64)
            if v.size == 0:
                return None
            idx = np.searchsorted(edges, v, side="right")
            uniq, cnt = np.unique(idx, return_counts=True)
            return [uniq.astype(np.int32), cnt.astype(np.int64)]

        partials = self._matched_values_scan(
            plan, [col], make_rows, "idx int, count long")
        if partials is None:
            partials = self.spark.createDataFrame(
                [], "idx int, count long")
        return finish(partials.groupBy("idx")
                      .agg(F.sum("count").alias("count")))

    def facet_stats(self, query: str | ParsedQuery, by: str,
                    metric: str, k: int = 50,
                    compound_terms: bool | None = None,
                    stemmed: bool | None = None,
                    lang: str | None = None):
        """Sub-aggregation: per-facet-bucket metric stats — a terms
        aggregation with a nested stats aggregation (tantivy
        aggregations nest sub_aggregation under each bucket,
        crates/tantivy/src/aggregation/agg_req.rs; the ES
        terms->stats idiom). Returns (value, count, sum, avg, min,
        max) for the top-k `by` buckets among matching docs, ranked
        (count desc, value asc); `metric` NULLs are dropped from the
        stats but not from the bucket count. Same partial-merge scale
        shape: per-segment (value, count, msum, mmin, mmax, mcount)
        partials only."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        plan = self._agg_preamble(query, [by, metric], compound_terms,
                                  stemmed, lang)

        def finish(partials):
            merged = (partials.groupBy("value")
                      .agg(F.sum("count").alias("count"),
                           F.sum("msum").alias("sum"),
                           (F.sum("msum") / F.sum("mcount"))
                           .alias("avg"),
                           F.min("mmin").alias("min"),
                           F.max("mmax").alias("max")))
            w = Window.orderBy(F.desc("count"), F.asc("value"))
            return (merged.withColumn("__r", F.row_number().over(w))
                    .filter(F.col("__r") <= k).drop("__r")
                    .orderBy(F.desc("count"), F.asc("value")))

        if plan.match_all:
            cand = self._all_candidates(plan, keep_cols=(by, metric))
            m = F.col(metric).cast("double")
            partials = (cand.filter(F.col(by).isNotNull())
                        .groupBy(F.col(by).cast("string")
                                 .alias("value"))
                        .agg(F.count("*").alias("count"),
                             F.sum(m).alias("msum"),
                             F.min(m).alias("mmin"),
                             F.max(m).alias("mmax"),
                             F.count(m).alias("mcount")))
            return finish(partials)

        def make_rows(vals: dict):
            bv, mv = vals[by], vals[metric]
            keep = np.array([not _missing(x) for x in bv], dtype=bool)
            if not keep.any():
                return None
            bs = np.array([_str_val(x) for x in bv[keep]],
                          dtype=object)
            ms = np.array([(np.nan if _missing(x) else _num_val(x))
                           for x in mv[keep]], dtype=np.float64)
            uniq, inv = np.unique(bs, return_inverse=True)
            n = uniq.size
            cnt = np.bincount(inv, minlength=n)
            ok = ~np.isnan(ms)
            mcnt = np.bincount(inv[ok], minlength=n)
            msum = np.bincount(inv[ok], weights=ms[ok], minlength=n)
            mmin = np.full(n, np.inf)
            mmax = np.full(n, -np.inf)
            np.minimum.at(mmin, inv[ok], ms[ok])
            np.maximum.at(mmax, inv[ok], ms[ok])
            # a bucket whose metric is all-NULL in this segment emits
            # NULL partials (Spark min/max/sum IGNORE nulls; a NaN
            # would poison the merged max, since Spark orders NaN
            # above every double)
            empty = mcnt == 0
            return [uniq, cnt.astype(np.int64),
                    [None if e else float(s)
                     for e, s in zip(empty, msum)],
                    [None if e else float(s)
                     for e, s in zip(empty, mmin)],
                    [None if e else float(s)
                     for e, s in zip(empty, mmax)],
                    mcnt.astype(np.int64)]

        schema = ("value string, count long, msum double, "
                  "mmin double, mmax double, mcount long")
        partials = self._matched_values_scan(
            plan, [by, metric], make_rows, schema)
        if partials is None:
            return self.spark.createDataFrame(
                [], "value string, count long, sum double, "
                    "avg double, min double, max double")
        return finish(partials)

    def cardinality(self, query: str | ParsedQuery, col: str,
                    compound_terms: bool | None = None,
                    stemmed: bool | None = None,
                    lang: str | None = None) -> int:
        """Cardinality aggregation: EXACT distinct `col` values among
        docs matching `query` (the ES cardinality metric; exact here
        because per-segment DISTINCT partials are bounded by the
        column's value count, not the match count — right for
        attribute-like columns; for corpus-unique columns prefer
        count()). NULLs ignored."""
        from pyspark.sql import functions as F

        plan = self._agg_preamble(query, [col], compound_terms, stemmed,
                                  lang)
        if plan.match_all:
            cand = self._all_candidates(plan, keep_cols=(col,))
            return int(cand.filter(F.col(col).isNotNull())
                       .select(F.countDistinct(col)).collect()[0][0])

        def make_rows(vals: dict):
            v = [_str_val(x) for x in vals[col] if not _missing(x)]
            if not v:
                return None
            return [np.unique(np.array(v, dtype=object))]

        partials = self._matched_values_scan(
            plan, [col], make_rows, "value string")
        if partials is None:
            return 0
        return int(partials.select(
            F.countDistinct("value")).collect()[0][0])

    def percentiles(self, query: str | ParsedQuery, col: str,
                    qs: list[float] = (0.25, 0.5, 0.75, 0.95),
                    compound_terms: bool | None = None,
                    stemmed: bool | None = None,
                    lang: str | None = None):
        """Percentiles aggregation over the matching docs — the
        tantivy/ES percentiles metric, but EXACT instead of sketched:
        per-segment (value, count) partials merge into a global CDF
        and each percentile is the discrete quantile (the k-th
        smallest value, k = max(ceil(q*n), 1) — DuckDB quantile_disc
        semantics, so the oracle is exact). Scale shape: partials and
        the CDF are bounded by the column's DISTINCT-value count, not
        the match count — right for quantized/attribute-like numeric
        columns (the fast-field case); a corpus-unique column would
        make the CDF corpus-sized, prefer a sketch there. Timestamps
        key by epoch seconds. Returns (q, value), q order; NULLs
        ignored; empty match -> empty frame."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        qlist = [float(x) for x in qs]
        if not qlist or any(not 0.0 <= x <= 1.0 for x in qlist):
            raise ValueError("percentile fractions must be in [0, 1]")
        plan = self._agg_preamble(query, [col], compound_terms, stemmed,
                                  lang)
        empty = self.spark.createDataFrame(
            [], "q double, value double")

        def finish(counts):
            w = (Window.orderBy("value")
                 .rowsBetween(Window.unboundedPreceding, 0))
            cdf = (counts.withColumn("cum", F.sum("count").over(w))
                   .withColumn("n", F.sum("count").over(
                       Window.rowsBetween(Window.unboundedPreceding,
                                          Window.unboundedFollowing))))
            qdf = self.spark.createDataFrame(
                [(x,) for x in qlist], "q double")
            k = F.greatest(F.ceil(F.col("q") * F.col("n")), F.lit(1))
            return (cdf.join(qdf).filter(F.col("cum") >= k)
                    .groupBy("q").agg(F.min("value").alias("value"))
                    .orderBy("q"))

        if plan.match_all:
            cand = self._all_candidates(plan, keep_cols=(col,))
            counts = (cand.filter(F.col(col).isNotNull())
                      .groupBy(F.col(col).cast("double")
                               .alias("value"))
                      .agg(F.count("*").alias("count")))
            return finish(counts)

        def make_rows(vals: dict):
            v = np.array([_num_val(x)
                          for x in vals[col] if not _missing(x)],
                         dtype=np.float64)
            if v.size == 0:
                return None
            uniq, cnt = np.unique(v, return_counts=True)
            return [uniq, cnt.astype(np.int64)]

        partials = self._matched_values_scan(
            plan, [col], make_rows, "value double, count long")
        if partials is None:
            return empty
        counts = (partials.groupBy("value")
                  .agg(F.sum("count").alias("count")))
        return finish(counts)

    def histogram(self, query: str | ParsedQuery, col: str,
                  interval: float,
                  compound_terms: bool | None = None,
                  stemmed: bool | None = None,
                  lang: str | None = None):
        """Histogram aggregation over the matching docs — the tantivy
        aggregation module's HistogramAggregation (crates/tantivy/src/
        aggregation/bucket/histogram/): fixed-`interval` buckets
        keyed by floor(value / interval) * interval over a numeric
        row-store column (NULLs ignored; empty buckets are NOT
        filled). Returns a DataFrame (bucket double, count long),
        bucket asc. Same partial-merge scale shape as facet_counts."""
        from pyspark.sql import functions as F

        if interval <= 0:
            raise ValueError("histogram interval must be > 0")
        plan = self._agg_preamble(query, [col], compound_terms, stemmed,
                                  lang)
        iv = float(interval)

        if plan.match_all:
            cand = self._all_candidates(plan, keep_cols=(col,))
            return (cand.filter(F.col(col).isNotNull())
                    .groupBy((F.floor(F.col(col).cast("double")
                                      / F.lit(iv)) * F.lit(iv))
                             .alias("bucket"))
                    .agg(F.count("*").alias("count"))
                    .orderBy("bucket"))

        def make_rows(vals: dict):
            v = np.array([_num_val(x)
                          for x in vals[col] if not _missing(x)],
                         dtype=np.float64)
            if v.size == 0:
                return None
            b = np.floor(v / iv) * iv
            uniq, cnt = np.unique(b, return_counts=True)
            return [uniq, cnt.astype(np.int64)]

        partials = self._matched_values_scan(
            plan, [col], make_rows, "bucket double, count long")
        if partials is None:
            return self.spark.createDataFrame(
                [], "bucket double, count long")
        return (partials.groupBy("bucket")
                .agg(F.sum("count").alias("count"))
                .orderBy("bucket"))

    def _fetch_doc_text(self, doc_id: int, text_col: str):
        """Driver-local point read of one row-store doc's text: parquet
        min/max stats (turns are doc-sorted per segment) prune the read
        to one file + row group, no Spark job — the same coordinator
        shortcut as term_dfs. Returns None for an absent id; falls
        back to a Spark scan on non-local filesystems."""
        try:
            import pyarrow.dataset as ds

            if self._offsets is not None:
                # stage-A turns: doc_id = offsets[segment] + __ord
                import bisect

                items = sorted((int(v), int(k))
                               for k, v in self._offsets.items())
                pos = bisect.bisect_right(
                    [v for v, _ in items], int(doc_id)) - 1
                if pos < 0:
                    return None
                off, seg = items[pos]
                d = ds.dataset(os.path.join(
                    self._turns_path, f"segment_id={seg}"),
                    format="parquet")
                tbl = d.to_table(columns=[text_col],
                                 filter=ds.field("__ord")
                                 == int(doc_id) - off)
            else:
                d = ds.dataset(self._turns_path, format="parquet",
                               partitioning="hive")
                tbl = d.to_table(columns=[text_col],
                                 filter=ds.field("doc_id")
                                 == int(doc_id))
            if tbl.num_rows == 0:
                return None
            return tbl[text_col][0].as_py()
        except Exception:  # pragma: no cover - any local-read surprise
            # (missing pyarrow, non-local fs, unexpected turns layout)
            # falls back to the always-correct Spark scan
            from pyspark.sql import functions as F

            rows = (self._read_turns()
                    .filter(F.col("doc_id") == int(doc_id))
                    .select(text_col).collect())
            return rows[0][0] if rows else None

    def more_like_this(self, doc_id: int, max_terms: int = 10,
                       k: int = TOP_K_DEFAULT, dtype=np.float64):
        """Find documents similar to `doc_id` — the tantivy
        MoreLikeThisQuery analog (crates/tantivy/src/query/
        more_like_this/mod.rs: per-field term extraction from the
        stored doc, tf*idf-scored term selection, rewritten to a
        BooleanQuery of Should term clauses):

        1. fetch the doc's text from the row store (pruned point read),
        2. rank its terms by tf * ln(1 + (N - df + 0.5)/(df + 0.5))
           (weight desc, term asc) and keep the top `max_terms`,
        3. run the scored disjunction (occur='should') of those terms.

        The source doc itself matches (top hit by construction) —
        filter it from the result if undesired. Oracle:
        oracle_sql.mlt_sql computes the identical f64 selection and
        BM25 should-score in SQL."""
        from collections import Counter

        from ..tokenizer import tokenize

        text_col = self.stats.get("text_col", "text")
        text = self._fetch_doc_text(int(doc_id), text_col)
        if text is None:
            raise ValueError(f"doc_id {doc_id} not in the row store")
        tf = Counter(tokenize(text))
        dfs = self.term_dfs(list(tf))
        n = np.float64(self.num_docs)
        ranked = sorted(
            ((-np.float64(tf[t]) * np.log(
                np.float64(1.0)
                + (n - np.float64(dfs[t]) + np.float64(0.5))
                / (np.float64(dfs[t]) + np.float64(0.5))), t)
             for t in tf),
            key=lambda x: (x[0], x[1]))
        sel = [t for _, t in ranked[:max_terms]]
        pq = ParsedQuery([Clause("term", (t,)) for t in sel])
        return self.search(pq, k=k, dtype=dtype, occur="should")

    def explain(self, query, doc_id: int, dtype=np.float32, **kwargs):
        """Score-explanation tree for one (query, doc) pair — the
        tantivy `Query::explain` surface (crates/tantivy/src/query/
        explanation.rs, query.rs:138). Same planning and arithmetic as
        :meth:`search_local`, evaluated for a single document via
        pruned per-doc posting lookups (no scan, no Spark job — at any
        corpus size explain reads a handful of row-groups).

        Returns :class:`~cuely_spark.queryengine.explain.Explanation`
        (``.to_dict()`` / ``.to_pretty_json()``); raises
        :class:`~cuely_spark.queryengine.explain.DoesNotMatch` when the
        doc does not match. kwargs mirror search_local (occur, should,
        tie_breaker, const_score, compound_terms, stemmed, lang,
        fuzzy_transpositions). The root value equals the engine score
        for this doc at the same dtype (pinned by tests/test_explain).
        BM25F explain is not implemented — use :meth:`signals` for
        per-field diagnostics."""
        from .explain import explain_doc

        return explain_doc(self, query, doc_id, dtype=dtype, **kwargs)

    # ------------------------------------------------------------------
    # generic point queries (reference: crates/core/src/generic_query/)
    def get_turn(self, conv_id: str, turn_idx: int):
        """Point lookup of one document's stored fields (reference:
        GetWebpageQuery — TermQuery on the exact key + first-doc
        collector). Partition pruning + parquet predicate pushdown make
        this a 1-row-group read."""
        from pyspark.sql import functions as F

        return (self._read_turns()
                .filter((F.col("conv_id") == conv_id)
                        & (F.col("turn_idx") == turn_idx)))

    def get_conversation(self, conv_id: str):
        """All turns of a conversation, in order (GetSiteUrls analog)."""
        from pyspark.sql import functions as F

        return (self._read_turns()
                .filter(F.col("conv_id") == conv_id)
                .orderBy("turn_idx"))

    def top_key_phrases(self, k: int = 20):
        """Top terms by tf-idf mass (TopKeyPhrases analog): score =
        ttf * idf(df, N) over the global term stats."""
        from pyspark.sql import functions as F

        ts = (self.spark.read.parquet(self._term_stats_path)
              .filter(~F.col("term").rlike(r"^[a-z_]+:.")))
        n = float(self.num_docs)
        score = F.round(
            F.col("ttf") * F.log(
                F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)), 4)
        return (ts.select("term", score.alias("score"))
                .orderBy(F.desc("score"), F.asc("term")).limit(k))

    @staticmethod
    def _reject_expansions(pq: ParsedQuery, api: str) -> None:
        """The df-based estimators treat every token as a literal
        dictionary term; an expansion clause's base token (a prefix /
        pattern / typo) has df 0, which would silently estimate 0
        instead of the expansion's mass — fail loudly instead."""
        if any((c.kind == "term" and (c.fuzzy or c.prefix or c.regex))
               or (c.kind == "phrase" and c.prefix)
               or c.kind == "range"
               for c in pq.clauses):
            raise ValueError(
                f"{api} estimates from literal term dfs; "
                f"fuzzy/prefix/regex/phrase-prefix/range clauses are "
                f"not estimable — use count() for the exact number")

    def approx_count(self, query: str | ParsedQuery) -> int:
        """Term-independence estimate N * prod(df_i / N) (reference:
        crates/core/src/collector/approx_count.rs:104-211)."""
        pq = self._parse(query)
        self._reject_expansions(pq, "approx_count")
        dfs = self.term_dfs(pq.all_terms())
        est = float(self.num_docs)
        for c in pq.positive:
            for t in c.tokens:
                est *= dfs[t] / self.num_docs
        return int(round(est))

    @property
    def segment_docs(self) -> dict[int, int]:
        """num_docs per segment (from kind='g' summary rows), cached —
        a #segments-row collect paid once per reader."""
        if self._segment_docs is None:
            g = (self.spark.read.option(
                    "basePath", os.path.join(self.path, "index"))
                 .parquet(os.path.join(self.path, "index", "kind=g"))
                 .select("segment_id", "num_docs").collect())
            self._segment_docs = {int(r["segment_id"]): int(r["num_docs"])
                                  for r in g}
        return self._segment_docs

    def approx_count_hybrid(self, query: str | ParsedQuery,
                            max_docs_per_segment: int = 250_000):
        """Cap-then-estimate count (the reference ApproxCount collector,
        crates/core/src/collector/approx_count.rs:104-211): each segment
        counts exactly UNTIL the ShortCircuit cap (the kernel stops
        decoding once `max_docs_per_segment` matches accumulate, so a
        capped segment pays ~cap work, not the full intersection); a
        capped segment reports max(cap, per-segment term-independence
        estimate), where the estimate is the exact rational
        prod(df_i) / num_docs^(k-1) truncated to integer (BigRational
        semantics — exact Python ints inside the kernel). The per-segment
        decision happens executor-side; the driver sees one aggregated
        row, not O(#segments) rows. Returns (count, exact) — exact iff
        no segment was capped. Estimator semantics use the plain query
        terms (no compound / stemmed augmentation — the reference
        estimates from raw term dfs); use count() for augmented exact
        counts."""
        from pyspark.sql import functions as F

        pq = self._parse(query)
        self._reject_expansions(pq, "approx_count_hybrid")
        dfs = self.term_dfs(pq.all_terms())
        required = [c.tokens for c in pq.positive]
        if any(dfs[t] == 0 for toks in required for t in toks):
            return 0, True
        dtype = np.float32
        weights = self._weights(pq, dfs, dtype)
        pos_terms = [t for c in pq.positive for t in c.tokens]
        postings = self._postings_for(
            pq.all_terms(), any(c.kind == "phrase" for c in pq.positive))
        seg_docs = self.segment_docs  # tiny dict, shipped in the closure
        cap = max_docs_per_segment

        def run_arrow(batches):
            import pyarrow as pa

            total, any_capped = 0, False
            for seg, by_term in _batch_groups(batches):
                specs, negs = _make_specs(pq, weights, by_term, dtype)
                n = count_matches(specs, negs, max_docs=cap)
                if n < cap:
                    total += n
                    continue
                total += max(cap, _indep_estimate(by_term, pos_terms,
                                                  seg_docs.get(seg, 0)))
                any_capped = True
            yield pa.record_batch(
                [pa.array([total], type=pa.int64()),
                 pa.array([any_capped], type=pa.bool_())],
                names=["n", "capped"])

        row = (postings.repartition(F.col("segment_id"))
               .mapInArrow(run_arrow, schema="n long, capped boolean")
               .agg(F.sum("n").alias("n"),
                    F.max("capped").alias("any_capped"))
               .collect())[0]
        return int(row["n"] or 0), not bool(row["any_capped"])
