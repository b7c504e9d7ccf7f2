"""IndexReader: distributed BM25 top-k over a built index.

Query lifecycle (Spark mapping of the reference's LocalSearcher::search,
/root/reference/crates/core/src/searcher/local/mod.rs:116-182):

1. parse + plan (driver, `IndexReader._plan` -> :class:`QueryPlan`):
   :mod:`.parser` clauses (dedup, 32-term cap), option validation,
   compound/stem/expansion alternatives and the posting term list.
   Every entry point and both executors (driver-local and Spark) take
   this one plan; the auto-routers decide local vs distributed on it.
2. term stats lookup, inside `_plan`: ONE read of the sorted
   `term_stats` table (the Parquet FST stand-in) through the
   cached-footer reader (:class:`_PrunedTable`: footers and row-group
   min/max resident, only the row groups holding a query term
   decoded, each once per snapshot) -> global df per term;
   dead-clause detection, the posting-block estimate and the BM25
   weights built driver-side with global N / avg_fieldnorm (global-df
   contract: bm25.rs:84, SURVEY §4.1).
3. posting read: the query's terms through :class:`_PrunedTable`
   (row groups selected by their term min/max, each decoded once per
   snapshot; the positions column only when the query has a phrase).
   The driver-local path (`IndexReader.search_local`) reads the whole
   index this way; a distributed query is a job over segment groups
   (`IndexReader._posting_tasks`) whose tasks each read their own
   group through a table resident in their Python worker
   (:func:`_task_postings`), built from the snapshot's file list that
   the driver ships with the plan. No Spark scan, no shuffle.
4. kernel: the numpy kernel (:mod:`.kernel`) — top-k, block-max
   pruning, leapfrog AND, phrase verification — runs once per posting
   group: the whole index locally, a task's segments concatenated as
   one logical segment, or one segment where a segment carries
   meaning (a per-segment cap, the diversity greedy). Every path turns
   posting rows into TermPostings with ONE builder,
   :func:`_arrow_postings` (zero-copy views of the Arrow buffers, no
   Python object per row); the kernel decodes selected blocks in a
   constant number of numpy calls. Per-document row-store and doc-stats
   values (range/exists filters, optic end-anchor doclens, diversity
   buckets, aggregated columns) are read for the kernel's candidates
   only, through the reader's row-store and `kind=d` tables
   (:func:`_row_lookup`); a task reads them through its worker's
   tables of the same snapshots, whose file lists ship with the plan.
5. global merge: orderBy(score desc, doc_id asc).limit(k) over the tiny
   union of per-group top-ks (reference: collector/top_docs.rs merge).
"""

from __future__ import annotations

import itertools
import os
import weakref
from collections import namedtuple
from dataclasses import dataclass, field
from functools import cached_property

import numpy as np
from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                               StringType, StructField, StructType)

from .. import TOP_K_DEFAULT
from .._worker import _on_worker
from ..bm25 import Bm25FWeight, Bm25Weight
from .kernel import (PhraseTps, TermPostings, count_matches, segment_topk,
                     union_topk)
from .parser import (Clause, ParsedQuery, compound_alternatives,
                     parse_query)



def _schema(ddl: str) -> StructType:
    """StructType of a 'name type, ...' string, built without the py4j
    DDL parse that a string schema costs on every request."""
    types = {"long": LongType(), "double": DoubleType(),
             "string": StringType(), "boolean": BooleanType()}
    return StructType([StructField(n, types[t]) for n, t in
                       (c.split() for c in ddl.split(","))])


# mapInArrow output schemas
_HITS = "doc_id long, score double, "
_SEG_HITS_SCHEMA = _schema(_HITS + "segment_id long")
_SEG_HITS_COUNT_SCHEMA = _schema(_HITS + "segment_id long, n long, "
                                 "capped boolean")
_QUERY_HITS_SCHEMA = _schema(_HITS + "query string")
_QUERY_HITS_COUNT_SCHEMA = _schema(_HITS + "query string, n long, "
                                   "capped boolean")
_DOC_IDS_SCHEMA = _schema("doc_id long")
_SIGNALS_SCHEMA = _schema("doc_id long, bm25 double, coverage double, "
                          "idf_sum double")
_CAPPED_COUNT_SCHEMA = _schema("n long, capped boolean")
_TERM_DF_ED_SCHEMA = _schema("term string, df long, ed long")

_POSTING_COLS = ["segment_id", "term", "block_id", "first_doc", "last_doc",
                 "ndocs", "docs", "tfs", "fnids",
                 "block_max_tf", "block_min_fnid"]

#: shared pool for the driver-local pruned reads (one read task per
#: file; I/O + parquet decode release the GIL)
_LOCAL_READ_THREADS = min(16, os.cpu_count() or 8)
_local_read_pool = None

#: open-handle budget of one _PrunedTable: files past it keep only
#: their cached footer and are reopened per read
_LOCAL_FILE_CAP = 4096

#: byte budget of the decoded row-group cache that every _PrunedTable
#: in the process shares (:class:`_DecodedCache`): twice the largest
#: posting read the local router sends to the driver, a small fixed
#: share of driver memory whatever the corpus size (docs/DESIGN.md
#: "Driver-local small queries")
_DECODED_CACHE_BYTES = 64 << 20


def _get_local_read_pool():
    global _local_read_pool
    if _local_read_pool is None:
        from concurrent.futures import ThreadPoolExecutor

        _local_read_pool = ThreadPoolExecutor(
            max_workers=_LOCAL_READ_THREADS,
            thread_name_prefix="cuely-localread")
    return _local_read_pool


class _DecodedCache:
    """LRU of decoded row-group columns, keyed (table token, file no,
    row group, column) and bounded by `_DECODED_CACHE_BYTES` of Arrow
    buffers. A column larger than a quarter of the budget (a row-store
    text row group at Spark's default block size) is decoded but not
    kept, so one point read cannot flush the posting working set.
    Counts hits, misses and evictions per (row group, column) pair."""

    def __init__(self):
        import threading
        from collections import OrderedDict

        self._lru: OrderedDict = OrderedDict()  # key -> (array, nbytes)
        self._lock = threading.Lock()
        self.resident_bytes = 0
        self.hits = self.misses = self.evictions = 0

    def get_many(self, keys: list) -> list:
        """The cached array of each key, None where it is missing."""
        out = []
        with self._lock:
            for k in keys:
                hit = self._lru.get(k)
                if hit is None:
                    self.misses += 1
                    out.append(None)
                else:
                    self._lru.move_to_end(k)
                    self.hits += 1
                    out.append(hit[0])
        return out

    def put(self, key, arr) -> None:
        n = arr.nbytes
        budget = _DECODED_CACHE_BYTES
        if n > budget // 4:
            return
        with self._lock:
            # two threads may decode the same pair; keep the last one
            old = self._lru.pop(key, None)
            if old is not None:
                self.resident_bytes -= old[1]
            self._lru[key] = (arr, n)
            self.resident_bytes += n
            while self.resident_bytes > budget:
                _, (_, m) = self._lru.popitem(last=False)
                self.resident_bytes -= m
                self.evictions += 1

    def drop(self, token: int) -> None:
        """Release every entry of one table instance."""
        with self._lock:
            for k in [k for k in self._lru if k[0] == token]:
                self.resident_bytes -= self._lru.pop(k)[1]

    def stats(self) -> dict:
        with self._lock:
            return {"hits": self.hits, "misses": self.misses,
                    "evictions": self.evictions,
                    "entries": len(self._lru),
                    "resident_bytes": self.resident_bytes}


_decoded = _DecodedCache()
_table_tokens = itertools.count()


class _PrunedTable:
    """Reader of one index table (postings, term stats, fuzzy sidecar,
    row store or doc stats) on any pyarrow filesystem, on the driver
    and, through :func:`_worker_table`, in Spark's Python workers. The
    file list (`files`, else a listing of `path`), each footer and each
    row group's min/max of the sort column `key` are read once; a read
    decodes only the row groups that can hold its keys — on the shared
    pool on the driver, on the task's thread in a worker — and only the
    (row group, column) pairs the process-wide :class:`_DecodedCache`
    does not already hold for this instance.

    A row group is read when some key lies inside its (min, max) — a
    containment test, so the result is right whatever the row order
    inside a file (the build writes files key-sorted, which keeps each
    key in few row groups, but pruning does not rely on it). The
    resident footers play the role of the reference's per-segment term
    dictionary + skip list (metadata resident, data read per query,
    crates/tantivy/src/termdict/mod.rs), and the decoded-column cache
    the role of its page-cached segment readers held per searcher
    snapshot: cache entries carry this instance's token, never the
    path, so a new snapshot of the same path starts cold. Compared to
    a dataset scan this removes the per-query discovery and footer
    parse (~1 ms x file count) and decodes only the matching row
    groups (measured 6x on a 640-segment index;
    plans/r06/local_pruned_read.md). The first `_LOCAL_FILE_CAP` files
    keep an open handle; the others are reopened per read from their
    cached footer."""

    def __init__(self, path: str, key: str, files=None):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        from .. import fsio

        self.path, self.key = path, key
        self._token = next(_table_tokens)
        # entries of a table dropped without close() leave with it
        weakref.finalize(self, _decoded.drop, self._token)
        self._fs, root = fsio.resolve(path)

        def rel(p):  # path components below the table root
            return p[len(root.rstrip("/")) + 1:].split("/")

        if files is None:
            infos = self._fs.get_file_info(
                pafs.FileSelector(root, recursive=True))
            # Spark's _SUCCESS / .crc side files are not data
            files = sorted(i.path for i in infos
                           if i.type == pafs.FileType.File
                           and i.base_name.endswith(".parquet")
                           and not any(c.startswith(("_", "."))
                                       for c in rel(i.path)))
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        # (path, segment_id partition value or None, footer, key
        # min/max per row group — None when a group has no statistics)
        self._files: list[tuple] = []
        self._open: dict[int, pq.ParquetFile] = {}
        for fpath in files:
            pf = pq.ParquetFile(fpath, filesystem=self._fs)
            md = pf.metadata
            if len(self._open) < _LOCAL_FILE_CAP:
                self._open[len(self._files)] = pf
            else:
                pf.close()
            ci = [md.schema.column(j).path
                  for j in range(md.num_columns)].index(key)
            stats = [md.row_group(i).column(ci).statistics
                     for i in range(md.num_row_groups)]
            bounds = ([(st.min, st.max) for st in stats]
                      if all(st is not None and st.has_min_max
                             for st in stats) else None)
            seg = [int(c.split("=", 1)[1]) for c in rel(fpath)
                   if c.startswith("segment_id=")]
            self._files.append((fpath, seg[0] if seg else None, md, bounds))
        #: the snapshot this table reads, and ships as (:meth:`__reduce__`)
        self.files = tuple(files)
        self.schema = self._files[0][2].schema.to_arrow_schema()
        if self._files[0][1] is not None:
            self.schema = self.schema.append(
                pa.field("segment_id", pa.int64()))

    def __reduce__(self):
        """A table pickles as its snapshot (path, file list, key): a
        Spark task's closure that holds a reader's table unpickles to
        its worker's resident table of the same snapshot
        (:func:`_worker_table`), never to a second copy."""
        return _worker_table, (self.path, self.files, self.key)

    @property
    def segments(self) -> list[int]:
        """The segment_id partitions that hold this table's files."""
        return sorted({seg for _, seg, _, _ in self._files
                       if seg is not None})

    def close(self) -> None:
        """Close the open handles and release the decoded row groups;
        later reads reopen files per read."""
        for pf in self._open.values():
            pf.close()
        self._open.clear()
        _decoded.drop(self._token)

    def _select(self, keys, lo, hi, segments) -> list[tuple]:
        """-> [(file no, row groups)] that can hold a key in `keys` (or
        one in [lo, hi)) within the `segments` partitions."""
        import bisect

        tasks = []
        if segments is not None:
            segments = set(segments)
        for n, (_, seg, md, bounds) in enumerate(self._files):
            if segments is not None and seg not in segments:
                continue
            rgs = range(md.num_row_groups)
            if bounds is not None and keys is not None:
                # smallest key >= the group's min must be <= its max
                rgs = [i for i in rgs
                       if (j := bisect.bisect_left(keys, bounds[i][0]))
                       < len(keys) and keys[j] <= bounds[i][1]]
            elif bounds is not None and lo is not None:
                rgs = [i for i in rgs
                       if bounds[i][1] >= lo and bounds[i][0] < hi]
            if rgs:
                tasks.append((n, list(rgs)))
        return tasks

    def num_rows(self, lo=None, hi=None) -> int:
        """Footer row count of the row groups a [lo, hi) read selects
        (every row group without a range)."""
        return sum(self._files[n][2].row_group(i).num_rows
                   for n, rgs in self._select(None, lo, hi, None)
                   for i in rgs)

    def _decode(self, task) -> list:
        """(file no, [(slot, row group, columns)]) -> a decoded table
        per row group."""
        import pyarrow.parquet as pq

        n, todo = task

        def rd(pf):
            return [pf.read_row_group(i, columns=cs, use_threads=False)
                    for _, i, cs in todo]

        pf = self._open.get(n)
        if pf is not None:
            return rd(pf)
        path, _, md, _ = self._files[n]
        with pq.ParquetFile(path, filesystem=self._fs, metadata=md) as pf:
            return rd(pf)

    def read(self, cols: list[str], keys=None, lo=None, hi=None,
             segments=None):
        """Rows whose key is in `keys` (or in [lo, hi); every row
        without either) from the `segments` partitions (all by
        default), with columns `cols` — `segment_id` included; typed
        and empty when nothing matches. Only the (row group, column)
        pairs missing from the decoded cache go to the read pool."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if isinstance(keys, np.ndarray):
            keys = np.unique(keys)
        elif keys is not None:
            keys = sorted(set(keys))
        tasks = self._select(keys, lo, hi, segments)
        if not tasks:
            return self.schema.empty_table().select(cols)
        fcols = [c for c in cols if c != "segment_id"]
        if (keys is not None or lo is not None) and self.key not in fcols:
            fcols.append(self.key)
        nc = len(fcols)
        pairs = [(n, i) for n, rgs in tasks for i in rgs]
        got = _decoded.get_many([(self._token, n, i, c)
                                 for n, i in pairs for c in fcols])
        todo: dict[int, list] = {}
        for j, (n, i) in enumerate(pairs):
            miss = [c for c, a in zip(fcols, got[j * nc:(j + 1) * nc])
                    if a is None]
            if miss:
                todo.setdefault(n, []).append((j, i, miss))
        if todo:
            # a Spark worker decodes on its task's thread: Spark already
            # runs one task per core
            fmap = map if _on_worker() else _get_local_read_pool().map
            for (n, v), tbls in zip(todo.items(),
                                    fmap(self._decode, todo.items())):
                for (j, i, miss), t in zip(v, tbls):
                    for c in miss:
                        got[j * nc + fcols.index(c)] = t[c]
                        _decoded.put((self._token, n, i, c), t[c])
        # segment_id is attached ONCE, vectorized, after concat (a
        # per-part append_column holds the GIL ~0.25 ms x files)
        tbl = pa.concat_tables(
            pa.Table.from_arrays(got[j * nc:(j + 1) * nc], names=fcols)
            for j in range(len(pairs)))
        if "segment_id" in cols:
            lens = np.fromiter(
                (self._files[n][2].row_group(i).num_rows
                 for n, i in pairs), dtype=np.int64, count=len(pairs))
            segs = np.asarray([self._files[n][1] for n, _ in pairs],
                              dtype=np.int64)
            tbl = tbl.append_column("segment_id",
                                    pa.array(np.repeat(segs, lens)))
        # exact filter as a plain compute mask: an expression filter
        # builds an Acero plan per call (~1 ms against ~0.07 ms)
        col = tbl[self.key] if self.key in fcols else None
        if keys is not None:
            tbl = tbl.filter(pc.is_in(col, value_set=pa.array(keys,
                                                              col.type)))
        elif lo is not None:
            tbl = tbl.filter(pc.and_(pc.greater_equal(col, lo),
                                     pc.less(col, hi)))
        return tbl.select(cols)


#: index tables one Spark Python worker keeps open (:func:`_worker_table`):
#: room for one snapshot's postings, row store and doc stats at once
_WORKER_TABLES = 4
_worker_tables: dict = {}


def _worker_table(root: str, files: tuple, key: str) -> _PrunedTable:
    """This process's table of one reader snapshot, keyed by (root,
    file list, sort key) and built from that list, never from a
    listing: a task cannot see files committed after its reader's
    snapshot. A reused Spark worker serves later tasks of the snapshot
    from the table's decoded row groups; the least recently used table
    past `_WORKER_TABLES` is closed, dropping its cache entries."""
    rkey = (root, files, key)
    table = _worker_tables.pop(rkey, None)
    if table is None:
        table = _PrunedTable(root, key, files=files)
    _worker_tables[rkey] = table
    while len(_worker_tables) > _WORKER_TABLES:
        _worker_tables.pop(next(iter(_worker_tables))).close()
    return table


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


def _make_specs(pq: ParsedQuery, weights: dict, by_term: dict,
                compounds: dict | None = None, neg_groups=()):
    """(clause_specs, mustnot_groups) for one posting group's
    TermPostings.

    `compounds`: pq.clauses-index -> compound alternative terms; a term
    clause with alternatives becomes an ("or", [(tp, w), ...], None)
    group — (term OR b:compound OR ...) per the reference's compound
    augmentation plan shape. `neg_groups`: the plan's MustNot groups
    as dictionary keys (:attr:`QueryPlan.neg_groups`); a doc is
    excluded when it holds every key of some group."""
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
    negs = [[by_term.get(t, empty_tp) for t in g] for g in neg_groups]
    return specs, negs


#: per-block byte streams of a posting row (positions only when read)
_BLOCK_STREAMS = ("docs", "tfs", "fnids", "positions")


def _binary_stream(col):
    """(values uint8, offsets int64) of a binary or large_binary column,
    zero-copy from its Arrow buffers; None when all null (an index
    built without positions)."""
    import pyarrow as pa

    arr = col.combine_chunks()
    if arr.null_count == len(arr):
        return None
    _validity, offs, vals = arr.buffers()
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(offs, dtype=odt)[arr.offset:arr.offset + len(arr) + 1]
    return np.frombuffer(vals or b"", dtype=np.uint8), off.astype(np.int64)


def _arrow_postings(tbl, per_segment: bool = True):
    """The posting builder: {segment_id: {term: TermPostings}} from an
    arrow table of posting rows, no pandas and no Python object per row.

    The rows are sorted once — by (segment_id, term, block_id) per
    segment, or with ``per_segment=False`` by (term, first_doc) across
    the whole index under the single key None — and the binary block
    columns are taken once in that order. Every (segment, term) group
    is then a contiguous row range, and its TermPostings holds the
    columns' values buffers plus a slice of their offsets (zero-copy
    views; :meth:`TermPostings.from_streams`).

    Whole-index mode treats the index as ONE logical segment. It is
    sound because every writer gives each segment a disjoint docID
    range (stage A: doc_id = offset[segment] + ordinal; merges keep
    contiguous source groups; live batches take fresh id ranges), so
    a term's blocks from all segments are doc-ordered and
    non-overlapping exactly like blocks within one segment. That is
    checked per term: interleaved ranges mean invalid index data and
    raise ValueError naming the term."""
    n = tbl.num_rows
    if n == 0:
        return {}
    enc = tbl["term"].combine_chunks().dictionary_encode()
    names = enc.dictionary.to_pylist()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)

    def ints(c):
        return tbl[c].to_numpy().astype(np.int64, copy=False)

    first, last = ints("first_doc"), ints("last_doc")
    if per_segment:
        seg = ints("segment_id")
        order = np.lexsort((ints("block_id"), codes, seg))
        seg, oc = seg[order], codes[order]
        brk = np.r_[True, (oc[1:] != oc[:-1]) | (seg[1:] != seg[:-1])]
    else:
        order = np.lexsort((first, codes))
        oc = codes[order]
        brk = np.r_[True, oc[1:] != oc[:-1]]
        # disjointness: within a term group, each block starts after
        # the previous block ends
        of, ol = first[order], last[order]
        bad = np.flatnonzero(~brk & ~(of > np.r_[np.int64(-1), ol[:-1]]))
        if bad.size:
            raise ValueError(
                f"posting blocks of term {names[oc[bad[0]]]!r} overlap "
                "across segments: segment doc-id ranges must be disjoint")
    starts = np.flatnonzero(brk)
    ends = np.r_[starts[1:], n]
    blocks = tbl.select([c for c in _BLOCK_STREAMS
                         if c in tbl.column_names]).take(order)
    streams = [_binary_stream(blocks[c]) if c in blocks.column_names
               else None for c in _BLOCK_STREAMS]
    first, last = first[order], last[order]
    nd, bmt, bmf = (ints(c)[order] for c in
                    ("ndocs", "block_max_tf", "block_min_fnid"))
    out: dict = {}
    for s, e in zip(starts.tolist(), ends.tolist()):
        part = [None if st is None else (st[0], st[1][s:e + 1])
                for st in streams]
        key = int(seg[s]) if per_segment else None
        out.setdefault(key, {})[names[oc[s]]] = \
            TermPostings.from_streams(
                first[s:e], last[s:e], nd[s:e], *part,
                block_max_tf=bmt[s:e], block_min_fnid=bmf[s:e])
    return out


def _concat_arrow_postings(tbl):
    """{term: TermPostings} over the posting rows of the whole index
    (driver-local read) or of one task's segment group as ONE logical
    segment. One kernel invocation then prunes across all of them: the
    block-max threshold converges once instead of once per segment,
    removing the per-segment loop AND most block decodes."""
    return _arrow_postings(tbl, per_segment=False).get(None, {})


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


def _row_doc_ids(tbl, offsets: dict | None, seg=None) -> np.ndarray:
    """Global doc ids of row-store rows: the `doc_id` column, else
    (stage-A turns) offsets[segment] + `__ord`, the segment being `seg`
    for a one-partition read or each row's `segment_id`."""
    if "doc_id" in tbl.column_names:
        return np.asarray(tbl["doc_id"].to_numpy(), dtype=np.int64)
    ords = np.asarray(tbl["__ord"].to_numpy(), dtype=np.int64)
    if seg is not None:
        return ords + int(offsets[str(seg)])
    segs, inv = np.unique(tbl["segment_id"].to_numpy(),
                          return_inverse=True)
    offs = np.array([int(offsets[str(s)]) for s in segs], dtype=np.int64)
    return ords + offs[inv]


def _row_lookup(table: _PrunedTable, dirs, offsets: dict | None,
                cols: list[str], cand: np.ndarray):
    """pyarrow.Table of the columns `cols` of the docs `cand`, in
    `cand` order, with NULLs for a doc the table lacks: one keyed read
    of the row store or the doc stats through their `_PrunedTable`
    (the fast-field reader analog, collector/top_docs.rs:168-196; the
    num_tokens column in pattern_query/scorer.rs:320-333), limited to
    the segment partitions `dirs` (all when None). Keys are doc ids,
    or on a stage-A row store each segment's `__ord`s, read per
    segment since their ranges overlap across segments."""
    import pyarrow as pa

    cand = np.asarray(cand, dtype=np.int64)
    cols = list(dict.fromkeys(cols))
    read = list(dict.fromkeys([table.key, *cols]))
    if table.key == "doc_id":
        parts = [(table.read(read, keys=cand, segments=dirs), None)]
    else:
        # a doc's segment: the last one whose offset is at or below it
        # (an empty segment shares its successor's offset)
        starts, segs = zip(*sorted((int(o), int(s))
                                   for s, o in offsets.items()))
        own = np.asarray(segs)[np.searchsorted(starts, cand, "right") - 1]
        parts = [(table.read(read, keys=cand[own == d] - int(offsets[str(d)]),
                             segments=[d]), d)
                 for d in np.unique(own).tolist()
                 if dirs is None or d in dirs]
    tbl = pa.concat_tables([t for t, _ in parts]
                           or [table.schema.empty_table()]).select(cols)
    ids = np.concatenate([_row_doc_ids(t, offsets, d) for t, d in parts]
                         or [np.empty(0, np.int64)])
    o = np.argsort(ids)
    pos = np.searchsorted(ids, cand, sorter=o).clip(0, max(ids.size - 1, 0))
    take = o[pos] if ids.size else pos
    ok = ids[take] == cand if ids.size else np.zeros(cand.size, bool)
    return tbl.take(pa.array(take, mask=~ok))


def _row_mask(tbl, range_specs: list, exists_specs: list) -> np.ndarray:
    """Bool mask of the rows of `tbl` that satisfy every range and
    exists filter (a NULL value matches neither): the RangeQuery and
    ExistsQuery analogs (crates/tantivy/src/query/range_query/,
    exist_query/). An exists filter keeps a non-null, non-empty value;
    its negation (`-field:*`) the others."""
    import pyarrow.compute as pc

    def true(mask):
        return pc.fill_null(mask, False).to_numpy()

    m = np.ones(tbl.num_rows, dtype=bool)
    for col, lo, hi, lo_inc, hi_inc in range_specs:
        c = tbl[col]
        if lo is not None:
            m &= true(pc.greater_equal(c, lo) if lo_inc
                      else pc.greater(c, lo))
        if hi is not None:
            m &= true(pc.less_equal(c, hi) if hi_inc else pc.less(c, hi))
    for col, neg in exists_specs:
        e = true(pc.not_equal(tbl[col], ""))
        m &= ~e if neg else e
    return m


def _bucket_ids(values) -> np.ndarray:
    """Arrow column of attribute values -> int64 bucket ids, globally
    consistent across segments (md5-based h60 of the value cast to
    string; NULL hashes as '')."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..ops.hashing import h60_py

    enc = pc.fill_null(values.cast(pa.string()), "").combine_chunks() \
        .dictionary_encode()
    hashed = np.fromiter((h60_py(u) for u in enc.dictionary.to_pylist()),
                         dtype=np.int64, count=len(enc.dictionary))
    return hashed[enc.indices.to_numpy()]


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


def _seg_ids(seg) -> tuple:
    """The segment ids of a posting group key: one id, or a task
    group's tuple of ids (:func:`_task_postings`)."""
    return (seg,) if isinstance(seg, int) else tuple(seg)


def _row_dirs(ssrc: dict | None, seg) -> list[int]:
    """Row-store dirs of the segments `seg` names (a merged index's
    row store keeps its source segments, `ssrc`)."""
    return [d for s in _seg_ids(seg)
            for d in (ssrc.get(s, [s]) if ssrc else [s])]


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
    #: (row-store table, seg_sources, offsets) when range/exists
    #: filters need row-store lookups (:func:`_range_fns`), and the
    #: doc-stats table when optic end anchors need doclens: the
    #: reader's own tables, shipped to tasks as their snapshots
    #: (:meth:`_PrunedTable.__reduce__`)
    rows: tuple | None = None
    doc_stats: _PrunedTable | None = None
    boost_rules: list = field(default_factory=list)
    discard_matchers: list = field(default_factory=list)
    require_matchers: list | None = None
    #: pq.clauses index -> alternative terms (compounds, stems,
    #: Expansion members); c_terms lists every alternative
    compounds: dict = field(default_factory=dict)
    c_terms: list = field(default_factory=list)
    #: field -> tf coefficient for a BM25F query
    bm25f: dict | None = None
    #: MustNot groups as dictionary keys: a doc is excluded when it
    #: holds every key of some group (under BM25F a negated text token
    #: expands to one group per field combination)
    neg_groups: list = field(default_factory=list)
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

    @property
    def stat_terms(self) -> list:
        """Every dictionary key whose df the plan reads: the posting
        terms plus, under BM25F, the union-of-fields keys ("u:" + term)
        that give each term its IDF."""
        if self.bm25f is None:
            return self.terms
        return self.terms + ["u:" + c.tokens[0] for c in self.pq.positive
                             if c.kind == "term"]


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
    """The kernel's range_fns for the segments `seg` names, or for
    every segment when `seg` is None (None without filters)."""
    if plan.rows is None:
        return None
    table, ssrc, offs = plan.rows
    dirs = None if seg is None else _row_dirs(ssrc, seg)
    cols = [table.key] + [c for c, *_ in plan.range_specs
                          + plan.exists_specs]

    def fn(cand):
        tbl = _row_lookup(table, dirs, offs, cols, cand)
        return (_row_mask(tbl, plan.range_specs, plan.exists_specs)
                & tbl[table.key].is_valid().to_numpy())

    return [fn]


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
    TermPostings} of segment `seg`, of a task's segment group as one
    logical segment when `seg` is a tuple of ids, or of the whole index
    when `seg` is None) -> (docs, scores, n, capped),
    the top-k in (score desc, doc_id asc) order; n is the hit count
    when `with_count` (else 0). The one kernel call shared by the
    local and distributed executors and by search_many.

    A segment truncated by `max_docs` (ShortCircuit) reports
    max(matches seen, term-independence estimate) and flags itself
    capped — ApproxCount harvest semantics
    (collector/approx_count.rs:162-181)."""
    dtype = plan.dtype
    specs, negs = _make_specs(plan.pq, plan.weights, by_term,
                              plan.compounds, plan.neg_groups)
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
    dl_fn = None
    if plan.doc_stats is not None:
        dirs = None if seg is None else _seg_ids(seg)

        def dl_fn(cand):
            import pyarrow.compute as pc

            tbl = _row_lookup(plan.doc_stats, dirs, None, ["doclen"], cand)
            return pc.fill_null(tbl["doclen"], -1).to_numpy()

    def matcher(m):
        return _matcher_spec(m, by_term, empty_tp, dl_fn)

    negs = negs + [matcher(m) for m in plan.discard_matchers]
    req = (None if plan.require_matchers is None
           else [matcher(m) for m in plan.require_matchers])
    res = segment_topk(
        specs, negs, k, dtype=dtype, max_docs=max_docs,
        should_specs=(_make_specs(plan.spq, plan.weights, by_term)[0]
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


#: what a posting job ships in its closure: the snapshot (posting root,
#: file list), the sorted posting terms, the positions flag and each
#: task's segment group (:meth:`IndexReader._posting_tasks`)
_PostingTasks = namedtuple("_PostingTasks",
                           "root files terms positions groups")


def _task_postings(ctx: _PostingTasks, batches, per_segment: bool):
    """(seg, {term: TermPostings}) of the segment group each row of a
    task's `batches` numbers, read through this process's table of the
    snapshot (:func:`_worker_table`): the posting input of every
    distributed closure. per_segment: one item per segment, keyed by
    its id, where a segment carries meaning (a per-segment cap, the
    diversity greedy, the meta join's segment tag). Otherwise one item
    keyed by the group's tuple of ids, its segments concatenated as
    one logical segment, as on the local path."""
    table = _worker_table(ctx.root, ctx.files, "term")
    cols = _POSTING_COLS + (["positions"] if ctx.positions else [])
    for b in batches:
        for g in b.column(0).to_pylist():
            segs = ctx.groups[g]
            tbl = table.read(cols, keys=ctx.terms, segments=segs)
            if tbl.num_rows == 0:
                continue
            if per_segment:
                yield from _arrow_postings(tbl).items()
            else:
                yield segs, _concat_arrow_postings(tbl)


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
    read at __init__; the posting file list (:meth:`_snapshot`, which
    the driver-local table and every distributed task read) and the
    row-store DataFrame's listing freeze on first use — segments added
    later by a LiveIndexWriter are NOT visible. After live batches, call
    :meth:`refresh` or construct a new reader (the reference reloads
    its reader on commit,
    crates/core/src/inverted_index/indexing.rs:65-75)."""

    #: queries whose estimated posting-block count is at or below this
    #: run in ONE task (coordinator path); above it, one task per
    #: segment group (:meth:`_posting_tasks`).
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
        self._posting_files = None  # frozen at the first table open
        self._task_shapes = {}  # fan-out flag -> (task DataFrame, groups)
        self._turns_df = None
        self._segment_docs = None

    # driver-local readers of the index tables, opened on first use
    @cached_property
    def _local_pruned(self) -> _PrunedTable:
        t = _PrunedTable(self._postings_path, "term",
                         files=self._posting_files)
        self._posting_files = t.files
        return t

    @cached_property
    def _term_table(self) -> _PrunedTable:
        return _PrunedTable(self._term_stats_path, "term")

    @cached_property
    def _sidecar_table(self) -> _PrunedTable:
        return _PrunedTable(os.path.join(self.path, "fuzzy_deletes"),
                            "variant")

    @cached_property
    def _turns_table(self) -> _PrunedTable:
        return _PrunedTable(self._turns_path, "doc_id"
                            if self._offsets is None else "__ord")

    @cached_property
    def _doc_table(self) -> _PrunedTable:
        return _PrunedTable(os.path.join(self.path, "index", "kind=d"),
                            "doc_id")

    def _drop_table(self, name: str) -> None:
        t = self.__dict__.pop(name, None)
        if t is not None:
            t.close()

    def close(self) -> None:
        """Close the file handles of every index table this reader
        holds open (they are reopened on the next query)."""
        for name in ("_local_pruned", "_term_table", "_sidecar_table",
                     "_turns_table", "_doc_table"):
            self._drop_table(name)

    def _snapshot(self) -> tuple:
        """(posting files, segment ids) of this reader's snapshot,
        listed at the first table open and kept across close(): the
        local table and every distributed task read these files."""
        segs = tuple(self._local_pruned.segments)
        return self._posting_files, segs

    def refresh(self) -> "IndexReader":
        """Re-open the snapshot: pick up segments/stats committed after
        this reader was constructed (live-index ingest, merges)."""
        self.close()
        self.__init__(self.spark, self.path)
        return self

    @property
    def turns_df(self):
        """Lazy, cached row store with a doc_id column, whatever the id
        mode: the listing, schema inference and (offsets mode) the
        offsets join cost ~0.3 s per spark.read, so pay them once per
        snapshot. Reset by :meth:`refresh`."""
        if self._turns_df is None:
            from pyspark.sql import functions as F

            turns = self.spark.read.parquet(self._turns_path)
            if self._offsets is not None and "doc_id" not in turns.columns:
                off = self.spark.createDataFrame(
                    [(int(k), int(v)) for k, v in self._offsets.items()],
                    "segment_id int, __off long")
                turns = (turns.join(F.broadcast(off), "segment_id")
                         .withColumn("doc_id",
                                     F.col("__off") + F.col("__ord"))
                         .drop("__off", "__ord"))
            self._turns_df = turns
        return self._turns_df

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
        clear error instead of a task-side stack."""
        names = self._turns_table.schema.names
        for col, *_ in specs:
            if col not in names:
                raise ValueError(
                    f"range column {col!r} not in the row store "
                    f"(has: {sorted(n for n in names if not n.startswith('__'))})")

    # ------------------------------------------------------------------
    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global doc-freq per term — the tantivy-FST-lookup analog.

        The term_stats table is written range-partitioned and sorted by
        term, so the cached-footer reader prunes a lookup to the one
        row-group per term via parquet min/max stats — a driver-local
        lookup with no Spark job and no per-call file discovery
        (reference: TermInfo lookup, crates/tantivy/src/termdict/mod.rs)."""
        if not terms:
            return {}
        tbl = self._term_table.read(["term", "df"], keys=terms)
        found = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
        return {t: int(found.get(t, 0)) for t in terms}

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

    def _scan_expansion(self, match_fn, cap: int | None,
                        prefix: str | None = None, prefilter=None,
                        allow_ns: str | None = None) -> list[str]:
        """Expansion matching over the term dictionary.

        Driver path: a read of the term-stats row groups that can hold
        a term starting with `prefix` (every row group without one),
        keeping a running (df desc, term asc) top-cap across row
        groups.
        Distributed path (pruned rows > vocab_scan_threshold): the same
        matcher fans out over executors via mapInArrow on the term-stats
        scan (narrowed to the prefix range, or by `prefilter`, e.g. the
        fuzzy length band) and ONLY the global top-cap rows are
        collected — the vocabulary itself never reaches the driver.
        This is the scale analog of tantivy's automaton-over-FST term
        expansion (crates/tantivy/src/query/fuzzy_query/mod.rs,
        regex_query.rs): pruned dictionary walk, capped result."""
        cap = cap or self.max_fuzzy_expansions
        rng = {}
        if prefix is not None:
            rng = {"lo": prefix, "hi": prefix + _MAX_CHAR}

            def prefilter(df):
                from pyspark.sql import functions as F

                return df.filter((F.col("term") >= prefix)
                                 & (F.col("term") < prefix + _MAX_CHAR))

        if self._term_table.num_rows(**rng) > self.vocab_scan_threshold:
            rows = self._distributed_dictionary(
                lambda ts: np.where(match_fn(ts), 0, -1), prefilter, cap,
                allow_ns=allow_ns)
            return [r["term"] for r in rows]
        best: list[tuple[int, str]] = []
        for batch in self._term_table.read(["term", "df"],
                                           **rng).to_batches():
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

    def _distributed_dictionary(self, rank_fn, prefilter, limit: int,
                                allow_ns: str | None = None) -> list:
        """Executor-side dictionary scan for extreme vocabularies:
        `rank_fn` gives each term an int rank (-1 = no match) and only
        the first `limit` (term, df, ed=rank) rows by (rank asc, df
        desc, term asc) reach the driver. Shadow/attribute namespaces
        are skipped, except `allow_ns`."""
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
                rank = np.asarray(rank_fn(terms), dtype=np.int64)
                m = rank >= 0
                if m.any():
                    dfv = b["df"].to_numpy(
                        zero_copy_only=False).astype(np.int64)
                    yield pa.record_batch(
                        [pa.array([t for t, k in zip(terms, m) if k]),
                         pa.array(dfv[m]), pa.array(rank[m])],
                        names=["term", "df", "ed"])

        return (df.mapInArrow(match, schema=_TERM_DF_ED_SCHEMA)
                .orderBy(F.asc("ed"), F.desc("df"), F.asc("term"))
                .limit(limit).collect())

    def prefix_terms(self, prefix: str,
                     cap: int | None = None) -> list[str]:
        """Dictionary terms starting with `prefix`, (df desc, term asc)
        capped — the wildcard-prefix expansion (`word*`).

        The term-stats table is range-partitioned and SORTED by term,
        so the [prefix, prefix+MAXCHAR) range prunes to the row-groups
        whose min/max term stats intersect it — the FST-prefix-walk
        analog (same trick term_dfs uses for IN lookups). Never a
        full-vocabulary read."""
        # a field-scoped prefix ("f:title:mer") expands within exactly
        # its own keyed namespace
        ns = None
        if prefix.startswith("f:") and prefix.count(":") >= 2:
            ns = prefix[: prefix.index(":", 2) + 1]
        return self._scan_expansion(
            lambda ts: [t.startswith(prefix) for t in ts], cap,
            prefix=prefix, allow_ns=ns)

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

        rx = re.compile(pattern)
        return self._scan_expansion(
            lambda ts: [rx.fullmatch(t) is not None for t in ts], cap,
            prefix=_regex_literal_prefix(pattern) or None)

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

        self._drop_table("_sidecar_table")
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
        disagrees with OSA on corner cases like ca->abc; the deletion-
        neighborhood guarantee holds for OSA too (each OSA op consumes
        <= 1 deletion per side, incl. a transposition: delete one
        swapped char from each side), so the sidecar candidates are just
        verified with the requested metric."""
        cand = self._sidecar_candidate_pairs(token, d)
        if cand is not None:
            # DP-verify: neighborhoods can intersect past ed d (ab/ba)
            ok = _lev_mask([t for t, _ in cand], token, d,
                           transpose=transpose)
            hits = sorted((-f, t) for (t, f), m in zip(cand, ok) if m)
            return [t for _, t in hits[:cap or self.max_fuzzy_expansions]]

        def prefilter(df):
            from pyspark.sql import functions as F

            return df.filter(F.length("term").between(
                len(token) - d, len(token) + d))

        return self._scan_expansion(
            lambda ts: _lev_mask(ts, token, d, transpose=transpose),
            cap, prefilter=prefilter)

    def _sidecar_candidate_pairs(self, token: str,
                                 d: int) -> list | None:
        """Raw (term, df) candidates whose depth-d deletion neighborhood
        intersects the token's — a row-group-pruned sidecar read; None
        when the sidecar is absent or built with a smaller max_d.
        Candidates are NOT yet distance-verified."""
        from .. import fsio

        path = os.path.join(self.path, "fuzzy_deletes")
        if not fsio.exists(path):
            self._drop_table("_sidecar_table")
            return None
        side_d = 1
        meta_p = os.path.join(path, "_sidecar.json")
        if fsio.exists(meta_p):
            side_d = int(fsio.read_json(meta_p).get("max_d", 1))
        if side_d < d:
            return None
        tbl = self._sidecar_table.read(["term", "df"],
                                       keys=_deletes_upto(token, d))
        return sorted({(t, int(f)) for t, f in
                       zip(tbl["term"].to_pylist(),
                           tbl["df"].to_pylist())})

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
        when available, a driver read of the dictionary below
        vocab_scan_threshold, distributed term-stats scan above it.

        transpositions=True ranks by OSA distance (adjacent swap costs
        1 — Lucene/tantivy transposition_cost_one), same option as
        fuzzy terms; the SymSpell deletion neighborhood covers swaps
        at the same depth, so the sidecar ladder is unchanged.
        Pytest-oracled only (DuckDB's damerau_levenshtein is the
        UNRESTRICTED distance, see _lev_eds)."""
        side = self._sidecar_candidate_pairs(token, d)
        if side is None and (self._term_table.num_rows()
                             > self.vocab_scan_threshold):
            from pyspark.sql import functions as F

            def rank(terms):
                eds = _lev_eds(terms, token, d, transpose=transpositions)
                return np.where(eds <= d, eds, -1)

            rows = self._distributed_dictionary(
                rank, lambda df: df.filter(F.length("term").between(
                    len(token) - d, len(token) + d)), k + 1)
            ranked = [(int(r["ed"]), -int(r["df"]), r["term"])
                      for r in rows if r["term"] != token]
        else:
            if side is None:
                tbl = self._term_table.read(["term", "df"])
                side = list(zip(tbl["term"].to_pylist(),
                                tbl["df"].to_pylist()))
            eds = _lev_eds([t for t, _ in side], token, d,
                           transpose=transpositions)
            ranked = [(int(e), -int(f), t)
                      for (t, f), e in zip(side, eds)
                      if e <= d and t != token and ":" not in t]
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
        return self._plan_stats(plan, self.term_dfs(plan.stat_terms))

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
        bm25f: field -> tf coefficient overrides for a BM25F query
        (search_bm25f, batch bm25f specs)."""
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
                plan.doc_stats = self._doc_table
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
            plan.rows = (self._turns_table, self._seg_sources(),
                         self._offsets)
        plan.neg_groups = [list(c.tokens) for c in pq.negative]
        if bm25f is not None:
            (plan.compounds, plan.c_terms, plan.bm25f,
             plan.neg_groups) = self._bm25f_alternatives(pq, plan.spq,
                                                         bm25f)
        if not any(c.kind in ("term", "phrase", "filter", "termset")
                   for c in pq.positive):
            # no posting-backed membership clause: pure match-all
            # (`* n_chars:>100`, `* -tool:*`, ...) — row-store path
            plan.match_all = True
            return plan
        if bm25f is None:
            plan.compounds, plan.c_terms = self._plan_alternatives(
                pq, compound_terms, stemmed, occur, lang=lang,
                fuzzy_transpositions=fuzzy_transpositions)
        qs = [pq] + ([plan.spq] if plan.spq is not None else [])
        plan.terms = list(dict.fromkeys(
            [t for q in qs for t in q.all_terms()] + plan.c_terms
            + rule_terms + [t for g in plan.neg_groups for t in g]))
        plan.positions = plan.positions or any(
            c.kind == "phrase" for q in qs for c in q.positive)
        return plan

    def _bm25f_alternatives(self, pq: ParsedQuery, spq, coeffs: dict):
        """BM25F plan shape (search_bm25f and batch bm25f specs): each
        simple term becomes an or-group with one member per scored
        field (the primary field's member is the term itself), and a
        negated text token matches in any field, so each MustNot group
        expands to its cross-field key combinations -> (compounds,
        c_terms, field -> coefficient, neg_groups). Simple terms,
        attribute filters and negations only."""
        import itertools

        extra = list(self.stats.get("field_cols") or [])
        if not extra:
            raise ValueError("index was built without field_cols; BM25F "
                             "needs a multi-field index")
        if any(c.field for c in pq.clauses):
            raise ValueError(
                "field-scoped terms (`title:term`) are a search() "
                "feature; BM25F already scores every term across all "
                "fields — use field_coeffs to weight a field")
        if spq is not None or any(c.kind not in ("term", "filter")
                                  for c in pq.positive):
            raise ValueError(
                "BM25F scores simple terms only: positive terms, "
                "attribute filters and negations (no phrases, ranges, "
                "match-all, term sets or should clauses)")
        compounds = {i: [f"f:{g}:{c.tokens[0]}" for g in extra]
                     for i, c in enumerate(pq.clauses) if c.kind == "term"}
        cmap = {f: 1.0 for f in [self.stats.get("text_col", "text")]
                + extra}
        for fname, v in coeffs.items():
            if fname not in cmap:
                raise ValueError(
                    f"unknown field {fname!r}; index has {list(cmap)}")
            cmap[fname] = float(v)
        neg_groups = [
            list(combo) for c in pq.negative
            for combo in itertools.product(*[
                [t] if ":" in t else [t] + [f"f:{g}:{t}" for g in extra]
                for t in c.tokens])]
        return (compounds, [t for a in compounds.values() for t in a],
                cmap, neg_groups)

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

    def _posting_tasks(self, terms, positions: bool, est_blocks: int):
        """(task DataFrame, :data:`_PostingTasks`) of one distributed
        posting job: like the reference's distributed searcher, each
        task gets the query and reads its own segments in its Python
        worker (:func:`_task_postings`). At or below
        `small_query_blocks` estimated blocks one task holds every
        segment; above, each segment is a group, or each run of
        segments when there are more than task slots. The tasks are a
        range with one row per group, built once per snapshot and
        shape: no scan to plan, no shuffle."""
        files, segs = self._snapshot()
        fanout = est_blocks > self.small_query_blocks
        shape = self._task_shapes.get(fanout)
        if shape is None:
            groups = (segs,)
            if fanout and len(segs) > 1:
                n = min(len(segs),
                        self.spark.sparkContext.defaultParallelism)
                groups = tuple(tuple(int(x) for x in g) for g in
                               np.array_split(np.asarray(segs), n))
            shape = self._task_shapes[fanout] = (
                self.spark.range(0, len(groups), 1, len(groups)), groups)
        tasks, groups = shape
        return tasks, _PostingTasks(self._postings_path, files,
                                    tuple(sorted(set(terms))),
                                    bool(positions), groups)

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
        seg_k = k + offset  # each group must surface the skipped page
        cap = max_docs_per_segment
        # the cap is per segment, and the meta join prunes the row store
        # by each hit's segment; otherwise a task's segments are one
        # logical segment (segment tag -1)
        per_seg = cap is not None or with_meta
        # tiny dict in the closure (the kernel closure must not capture
        # self: unpicklable SparkSession)
        seg_docs = (self.segment_docs
                    if _count_rows and cap is not None else None)
        tasks, ctx = self._posting_tasks(plan.terms, plan.positions,
                                         plan.est_blocks)

        def run_arrow(batches):
            # _count_rows: each group emits its top-k hit rows plus
            # ONE sentinel count row — the reference's (Count|
            # ApproxCount, TopDocs) tuple collector,
            # crates/core/src/inverted_index/search.rs:47-95
            parts = [(seg if per_seg else -1,)
                     + _eval_group(plan, by_term, seg, seg_k,
                                   _count_rows, cap, seg_docs)
                     for seg, by_term in _task_postings(ctx, batches,
                                                        per_seg)]
            batch = _hit_batch(parts, "segment_id", _count_rows)
            if batch is not None:
                yield batch

        hits = tasks.mapInArrow(
            run_arrow, schema=(_SEG_HITS_COUNT_SCHEMA if _count_rows
                               else _SEG_HITS_SCHEMA))
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
                self.turns_df
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

        turns = self.turns_df
        cond = F.lit(True)
        for col, lo, hi, lo_inc, hi_inc in plan.range_specs:
            if lo is not None:
                cond = cond & ((F.col(col) >= F.lit(lo)) if lo_inc
                               else (F.col(col) > F.lit(lo)))
            if hi is not None:
                cond = cond & ((F.col(col) <= F.lit(hi)) if hi_inc
                               else (F.col(col) < F.lit(hi)))
        for col, neg in plan.exists_specs:
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
        if plan.neg_groups:
            cand = cand.join(self._negated_docs_df(plan.neg_groups),
                             "doc_id", "left_anti")
        return cand

    def _negated_docs_df(self, groups: list):
        """(doc_id) DataFrame of the docs holding every key of some
        MustNot group: a distributed decode of only those terms' blocks
        (each task reads only their row groups, so the work is
        O(matching postings), never corpus-sized)."""
        from functools import reduce

        terms = [t for g in groups for t in g]
        tasks, ctx = self._posting_tasks(
            terms, False, _est_blocks(self.term_dfs(terms).values()))

        def run(batches):
            import pyarrow as pa

            for _segs, by_term in _task_postings(ctx, batches, False):
                docs = {t: tp.decode_blocks(np.arange(tp.nblocks))[0]
                        for t, tp in by_term.items()}
                for g in groups:
                    if all(t in docs for t in g):
                        hit = reduce(np.intersect1d, [docs[t] for t in g])
                        yield pa.record_batch(
                            [pa.array(hit.astype(np.int64))],
                            names=["doc_id"])

        return tasks.mapInArrow(run, schema=_DOC_IDS_SCHEMA)

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
                run_count, schema=_SEG_HITS_COUNT_SCHEMA)
        local = cand.withColumn("score", F.lit(float(score)))
        return self._topk_tail(local, k, offset, with_meta)

    def _search_all_local(self, plan: QueryPlan, k: int, offset: int,
                          _with_count: bool = False):
        """Driver-local `_search_all`: one read of the row store's id
        and filter columns through the reader's table, the filters as
        a compute mask, same (score desc = const, doc_id asc) ordering.
        Small-index path only — the distributed :meth:`_search_all` is
        the scale path."""
        table = self._turns_table
        idcols = (["doc_id"] if table.key == "doc_id"
                  else ["__ord", "segment_id"])
        tbl = table.read(list(dict.fromkeys(
            idcols + [c for c, *_ in plan.range_specs + plan.exists_specs])))
        ids = _row_doc_ids(tbl, self._offsets)[
            _row_mask(tbl, plan.range_specs, plan.exists_specs)]
        ids = np.sort(ids)  # rank order, and lookup() takes sorted docs
        if plan.neg_groups and ids.size:
            by_term = _concat_arrow_postings(self._local_postings(
                [t for g in plan.neg_groups for t in g], False))
            for g in plan.neg_groups:
                hit = np.ones(ids.size, dtype=bool)
                for t in g:
                    tp = by_term.get(t)
                    hit &= tp.lookup(ids)[2] if tp is not None else False
                ids = ids[~hit]
        n_all = int(ids.size)
        ids = ids[offset:offset + k]
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
        pq = self._parse(query)
        if any(c.kind != "term" for c in pq.clauses):
            raise ValueError("signals() takes simple term queries "
                             "(reference: query.simple_terms)")
        terms = [c.tokens[0] for c in pq.positive]
        dfs = self.term_dfs(terms)
        weights = self._weights(pq, dfs, dtype)
        tasks, ctx = self._posting_tasks(terms, False,
                                         _est_blocks(dfs.values()))

        def run_arrow(batches):
            import pyarrow as pa

            from .kernel import compute_signals

            empty_tp = TermPostings([], [], [], [], [], [])
            for _segs, by_term in _task_postings(ctx, batches, False):
                docs, *sig = compute_signals(
                    [(by_term.get(t, empty_tp), weights[t])
                     for t in terms], dtype=dtype)
                yield pa.record_batch(
                    [pa.array(docs.astype(np.int64))]
                    + [pa.array(x.astype(np.float64)) for x in sig],
                    names=_SIGNALS_SCHEMA.names)

        return tasks.mapInArrow(run_arrow, schema=_SIGNALS_SCHEMA)

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
        return self.search(
            self._plan(query, dtype=dtype, bm25f=field_coeffs or {}),
            k=k, offset=offset)

    def search_many(self, queries: dict, k: int = TOP_K_DEFAULT,
                    dtype=np.float32, compound_terms: bool | None = None,
                    stemmed: bool | None = None,
                    with_count: bool = False):
        """Evaluate MANY queries in ONE Spark job — queries as data.

        One posting job over the union of all query terms; each task
        builds its TermPostings once and evaluates every query against
        them; a windowed global merge ranks per query.
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

        A bm25f query is planned exactly as search_bm25f plans it
        (union-df IDF, per-field fieldnorms, coefficient inside the
        saturation, one or-group member per field, negations excluded
        in any field): simple terms, filters and negations, no phrases
        or should clauses.

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
        dfs = self.term_dfs(sorted(
            {t for p in plans.values() for t in p.stat_terms}))
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

        # a per-query ShortCircuit cap is per segment
        per_seg = any(md is not None for _, md in jobs.values())
        terms = {t for p in live.values() for t in p.terms}
        tasks, ctx = self._posting_tasks(
            terms, any(p.positions for p in live.values()),
            _est_blocks(dfs[t] for t in terms))

        def run_arrow(batches):
            # the whole query set per posting group
            parts = []
            for seg, by_term in _task_postings(ctx, batches, per_seg):
                for name, plan in live.items():
                    off, md = jobs[name]
                    parts.append((name,) + _eval_group(
                        plan, by_term, seg, k + off, with_count, md,
                        seg_docs))
            batch = _hit_batch(parts, "query", with_count)
            if batch is not None:
                yield batch

        local = tasks.mapInArrow(
            run_arrow, schema=(_QUERY_HITS_COUNT_SCHEMA if with_count
                               else _QUERY_HITS_SCHEMA))
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
        """Driver-local read of the pruned posting rows: row groups
        are selected by their term min/max stats (postings are written
        term-sorted within each segment), so a small query reads KBs,
        not the index."""
        cols = _POSTING_COLS + (["positions"] if with_positions else [])
        return self._local_pruned.read(cols, keys=terms)

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
        if plan.dead:
            return ((np.empty(0, dtype=np.int64),
                     np.empty(0, dtype=plan.dtype))
                    + ((Count(0, True),) if _with_count else ()))
        # ONE kernel call over the whole index as one logical segment:
        # segments own disjoint doc-id ranges, so the concatenated
        # streams are doc-ordered, the block-max threshold converges
        # once, and range/exists lookups and optic doclens read every
        # segment at once (seg=None). No ShortCircuit cap on this path,
        # so the count is always Exact; the kernel's top-k is already in
        # (score desc, doc_id asc) order, the distributed merge order.
        by_term = _concat_arrow_postings(
            self._local_postings(plan.terms, plan.positions))
        docs, scores, n, _capped = _eval_group(
            plan, by_term, None, k + offset, _with_count)
        hits = (docs[offset:offset + k], scores[offset:offset + k])
        return hits + ((Count(n, True),) if _with_count else ())

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
        turns, ssrc, offs = (self._turns_table, self._seg_sources(),
                             self._offsets)
        cap = max_docs_per_segment
        look_cols = pen_cols + ([sim_col] if sim_col else [])
        kk = int(k)
        hk = int(hamming_k)
        tasks, ctx = self._posting_tasks(plan.terms, plan.positions,
                                         plan.est_blocks)

        names = ["doc_id", "score", "sim"] + [f"b{ci}" for ci in
                                              range(len(pen_cols))]

        def run_arrow(batches):
            import pyarrow as pa
            import pyarrow.compute as pc

            parts = []
            for seg, by_term in _task_postings(ctx, batches, True):
                # full per-segment candidate set (bounded by the
                # considered-docs cap), scored and sorted
                docs, scores, _n, _c = _eval_group(plan, by_term, seg,
                                                   1 << 62, max_docs=cap)
                if docs.size == 0:
                    continue
                vals = (_row_lookup(turns, _row_dirs(ssrc, seg), offs,
                                    look_cols, docs)
                        if look_cols else {})
                bks = [_bucket_ids(vals[c]) for c in pen_cols]
                sims = (np.asarray(pc.fill_null(vals[sim_col], 0)
                                   .to_numpy(), dtype=np.int64)
                        if sim_col else None)
                order, _nd = diversity_rerank(
                    docs, scores, bks, pen_vals, kk,
                    simhashes=sims, hamming_k=hk)
                if sims is None:
                    sims = np.zeros(docs.size, dtype=np.int64)
                parts.append([c[order] for c in
                              (docs, scores.astype(np.float64), sims,
                               *bks)])
            if parts:
                yield pa.record_batch(
                    [pa.array(np.concatenate(c)) for c in zip(*parts)],
                    names=names)

        rows = tasks.mapInArrow(run_arrow, schema=_schema(", ".join(
            f"{n} {'double' if n == 'score' else 'long'}" for n in names))
        ).collect()
        if not rows:
            return empty
        # root harvest: the SAME greedy over segments × k picks
        docs, scores, sims, *bks = [np.array([r[n] for r in rows])
                                    for n in names]
        order, _nd = diversity_rerank(docs, scores, bks, pen_vals, kk,
                                      simhashes=sims if sim_col else None,
                                      hamming_k=hk)
        return docs[order], scores[order].astype(dtype)

    # ------------------------------------------------------------------
    def count(self, query: str | ParsedQuery,
              compound_terms: bool | None = None,
              stemmed: bool | None = None,
              lang: str | None = None) -> int:
        """Exact match count (reference Count collector). Applies the
        same compound/stemmed augmentation defaults as search(), so
        count(q) == number of rows search(q, k=num_docs) returns."""
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
        # the one-pass (Count, TopDocs) collector at k=1, routed like
        # search_collect: driver-local below the posting-block threshold,
        # a posting job above it (count parity is pinned by tests)
        return int(self.search_with_count(plan, k=1)[2].value)

    def _agg_rows(self, query, cols: list[str], compound_terms, stemmed,
                  lang):
        """Shared head of every aggregation surface: validate the
        requested row-store columns, plan the query and return its
        matched rows (:meth:`_matched_rows`)."""
        self._validate_range_cols([(c,) for c in cols])
        plan = self._plan(query, compound_terms=compound_terms,
                          stemmed=stemmed, lang=lang)
        return self._matched_rows(plan, cols)

    def _matched_rows(self, plan: QueryPlan, cols: list[str]):
        """DataFrame of the row-store columns `cols` of every doc
        matching `plan`, typed as in the row store — the one place an
        aggregation's membership is decided.

        Match-all plans read the row store (`_all_candidates`).
        Posting-backed plans run the SAME posting job as
        search()/count(): each task computes its group's matched ids
        with the count kernel (kernel.matching_docs) and yields the
        row-store values of exactly those ids (`_row_lookup`, the
        fast-field reader analog) as Arrow batches. The aggregations
        on top are plain Spark aggregates, so Spark plans their partial
        aggregation in the tasks' stage (the tantivy per-segment
        SegmentCollector + final merge, crates/tantivy/src/
        aggregation/): only bucket partials cross the shuffle, the
        corpus never moves. A dead plan yields an empty frame."""
        cols = list(dict.fromkeys(cols))
        if plan.match_all:
            return self._all_candidates(plan, keep_cols=tuple(cols)) \
                .select(*cols)
        from pyspark.sql.pandas.types import to_arrow_schema

        from .kernel import matching_docs

        schema = StructType([self.turns_df.schema[c] for c in cols])
        if plan.dead:
            return self.spark.createDataFrame([], schema)
        arrow_schema = to_arrow_schema(schema)
        turns, ssrc, offs = (self._turns_table, self._seg_sources(),
                             self._offsets)
        tasks, ctx = self._posting_tasks(plan.terms, plan.positions,
                                         plan.est_blocks)

        def run_arrow(batches):
            for segs, by_term in _task_postings(ctx, batches, False):
                specs, negs = _make_specs(plan.pq, plan.weights, by_term,
                                          plan.compounds, plan.neg_groups)
                ids = matching_docs(specs, negs,
                                    range_fns=_range_fns(plan, segs))
                if ids.size:
                    yield from _row_lookup(
                        turns, _row_dirs(ssrc, segs), offs, cols,
                        ids).cast(arrow_schema).to_batches()

        return tasks.mapInArrow(run_arrow, schema=schema)

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
        column. Values are returned as strings (Spark's CAST AS
        STRING); NULL attribute values are dropped (the terms
        aggregation ignores missing values).

        One Spark aggregate over :meth:`_matched_rows`: the `by`
        columns are stacked into (col, value) rows in the scan stage,
        so one scan feeds every column and only (col, value, count)
        partials shuffle."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        cols = [by] if isinstance(by, str) else list(by)
        if not cols:
            raise ValueError("facet_counts needs >= 1 `by` column")
        rows = self._agg_rows(query, cols, compound_terms, stemmed, lang)
        counts = (rows.select(F.inline(F.array(*[
            F.struct(F.lit(c).alias("col"),
                     F.col(c).cast("string").alias("value"))
            for c in cols])))
            .filter(F.col("value").isNotNull())
            .groupBy("col", "value").agg(F.count("*").alias("count")))
        # the final total order runs on the <= k*len(cols) result rows
        # in one task — no range-partitioning exchange or its sampling
        # job
        w = Window.partitionBy("col").orderBy(F.desc("count"),
                                              F.asc("value"))
        return (counts.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= k).drop("__r")
                .coalesce(1)
                .sortWithinPartitions("col", F.desc("count"),
                                      F.asc("value")))

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
        column with a non-NULL value, in `by` order. Timestamps
        aggregate as epoch seconds (Spark's CAST AS DOUBLE)."""
        from pyspark.sql import functions as F

        cols = [by] if isinstance(by, str) else list(by)
        if not cols:
            raise ValueError("agg_stats needs >= 1 `by` column")
        rows = self._agg_rows(query, cols, compound_terms, stemmed, lang)
        vals = (rows.select(F.inline(F.array(*[
            F.struct(F.lit(c).alias("col"),
                     F.col(c).cast("double").alias("v"))
            for c in cols])))
            .filter(F.col("v").isNotNull()))
        v = F.col("v")
        mean = F.sum(v) / F.count(v)
        var = F.sum(v * v) / F.count(v) - mean * mean
        order = F.array_position(
            F.lit([str(c) for c in cols]), F.col("col"))
        # one row per `by` column: total-order it in one task instead
        # of paying orderBy's range-partitioning exchange + sampling job
        return (vals.groupBy("col")
                .agg(F.count(v).alias("count"),
                     F.sum(v).alias("sum"),
                     mean.alias("avg"),
                     F.min(v).alias("min"),
                     F.max(v).alias("max"),
                     var.alias("variance"),
                     F.sqrt(var).alias("stddev"))
                .coalesce(1).sortWithinPartitions(order))

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
        rows = self._agg_rows(query, [col], compound_terms, stemmed,
                              lang)
        bounds = [(None, edges[0])] + list(
            zip(edges[:-1], edges[1:])) + [(edges[-1], None)]
        defs = self.spark.createDataFrame(
            [(i, lo, hi) for i, (lo, hi) in enumerate(bounds)],
            "idx int, lo double, hi double")
        v = F.col(col).cast("double")
        idx = sum((v >= F.lit(e)).cast("int") for e in edges)
        counts = (rows.filter(F.col(col).isNotNull())
                  .groupBy(idx.alias("idx"))
                  .agg(F.count("*").alias("count")))
        return (defs.join(counts, "idx", "left")
                .fillna(0, subset=["count"])
                .orderBy("idx")
                .select("lo", "hi", F.col("count").cast("long")
                        .alias("count")))

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
        stats but not from the bucket count."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        rows = self._agg_rows(query, [by, metric], compound_terms,
                              stemmed, lang)
        m = F.col(metric).cast("double")
        merged = (rows.filter(F.col(by).isNotNull())
                  .groupBy(F.col(by).cast("string").alias("value"))
                  .agg(F.count("*").alias("count"),
                       F.sum(m).alias("sum"),
                       (F.sum(m) / F.count(m)).alias("avg"),
                       F.min(m).alias("min"),
                       F.max(m).alias("max")))
        w = Window.orderBy(F.desc("count"), F.asc("value"))
        return (merged.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= k).drop("__r")
                .orderBy(F.desc("count"), F.asc("value")))

    def cardinality(self, query: str | ParsedQuery, col: str,
                    compound_terms: bool | None = None,
                    stemmed: bool | None = None,
                    lang: str | None = None) -> int:
        """Cardinality aggregation: EXACT distinct `col` values among
        docs matching `query` (the ES cardinality metric; exact here
        because the partial DISTINCT sets are bounded by the column's
        value count, not the match count — right for attribute-like
        columns; for corpus-unique columns prefer count()). NULLs
        ignored."""
        from pyspark.sql import functions as F

        rows = self._agg_rows(query, [col], compound_terms, stemmed,
                              lang)
        return int(rows.select(F.countDistinct(col)).collect()[0][0])

    def percentiles(self, query: str | ParsedQuery, col: str,
                    qs: list[float] = (0.25, 0.5, 0.75, 0.95),
                    compound_terms: bool | None = None,
                    stemmed: bool | None = None,
                    lang: str | None = None):
        """Percentiles aggregation over the matching docs — the
        tantivy/ES percentiles metric, but EXACT instead of sketched:
        (value, count) partials merge into a global CDF and each
        percentile is the discrete quantile (the k-th smallest value,
        k = max(ceil(q*n), 1) — DuckDB quantile_disc semantics, so the
        oracle is exact). Scale shape: partials and the CDF are
        bounded by the column's DISTINCT-value count, not the match
        count — right for quantized/attribute-like numeric columns
        (the fast-field case); a corpus-unique column would make the
        CDF corpus-sized, prefer a sketch there. Timestamps key by
        epoch seconds. Returns (q, value), q order; NULLs ignored;
        empty match -> empty frame."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        qlist = [float(x) for x in qs]
        if not qlist or any(not 0.0 <= x <= 1.0 for x in qlist):
            raise ValueError("percentile fractions must be in [0, 1]")
        rows = self._agg_rows(query, [col], compound_terms, stemmed,
                              lang)
        counts = (rows.filter(F.col(col).isNotNull())
                  .groupBy(F.col(col).cast("double").alias("value"))
                  .agg(F.count("*").alias("count")))
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
        bucket asc."""
        from pyspark.sql import functions as F

        if interval <= 0:
            raise ValueError("histogram interval must be > 0")
        rows = self._agg_rows(query, [col], compound_terms, stemmed,
                              lang)
        iv = F.lit(float(interval))
        return (rows.filter(F.col(col).isNotNull())
                .groupBy((F.floor(F.col(col).cast("double") / iv) * iv)
                         .alias("bucket"))
                .agg(F.count("*").alias("count"))
                .orderBy("bucket"))

    def _fetch_doc_text(self, doc_id: int, text_col: str):
        """Driver-local point read of one row-store doc's text: parquet
        min/max stats (turns are doc-sorted per segment) prune the read
        to one file + row group, no Spark job — the same coordinator
        shortcut as term_dfs. Returns None for an absent id."""
        if self._offsets is None:
            tbl = self._turns_table.read([text_col], keys=[int(doc_id)])
        else:
            loc = self._ord_of(int(doc_id))
            if loc is None:
                return None
            tbl = self._turns_table.read([text_col], keys=[loc[1]],
                                         segments=[loc[0]])
        return tbl[text_col][0].as_py() if tbl.num_rows else None

    def _ord_of(self, doc_id: int) -> tuple[int, int] | None:
        """Stage-A turns: (segment, __ord) of a global doc id, where
        doc_id = offsets[segment] + __ord — the segment with the largest
        offset <= doc_id (the last one when empty segments share it);
        None below every offset."""
        off, seg = max(((int(v), int(k)) for k, v in self._offsets.items()
                        if int(v) <= doc_id), default=(None, None))
        return None if seg is None else (seg, doc_id - off)

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

        return (self.turns_df
                .filter((F.col("conv_id") == conv_id)
                        & (F.col("turn_idx") == turn_idx)))

    def get_conversation(self, conv_id: str):
        """All turns of a conversation, in order (GetSiteUrls analog)."""
        from pyspark.sql import functions as F

        return (self.turns_df
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
        tasks, ctx = self._posting_tasks(
            pq.all_terms(), any(c.kind == "phrase" for c in pq.positive),
            _est_blocks(dfs.values()))
        seg_docs = self.segment_docs  # tiny dict, shipped in the closure
        cap = max_docs_per_segment

        def run_arrow(batches):
            import pyarrow as pa

            total, any_capped = 0, False
            for seg, by_term in _task_postings(ctx, batches, True):
                specs, negs = _make_specs(
                    pq, weights, by_term,
                    neg_groups=[c.tokens for c in pq.negative])
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

        row = (tasks.mapInArrow(run_arrow, schema=_CAPPED_COUNT_SCHEMA)
               .agg(F.sum("n").alias("n"),
                    F.max("capped").alias("any_capped"))
               .collect())[0]
        return int(row["n"] or 0), not bool(row["any_capped"])
