"""Round-6 posting layout + driver-local read-path invariants.

Three internals changed for performance and must be invisible to
results: (a) posting files are written with small parquet row groups
(the pruning granule), (b) the driver-local path reads them through a
cached-handle, statistics-pruned parallel reader instead of a generic
dataset scan, (c) the local kernel runs ONCE over the whole index as
one logical segment instead of looping per segment, for every query
shape: every writer gives each segment a disjoint docID range, and
interleaved ranges are rejected as invalid index data. Each is pinned
here against the reference behavior it replaced. Since then the reader
also keeps the row-group columns it decoded, per table instance, in a
byte-bounded cache: reads answer as a fresh reader does at any budget,
and close()/refresh() release the cached bytes."""

import os

import numpy as np
import pytest

from conftest import QUERY_SET


@pytest.fixture(scope="module")
def multirg_reader(spark, transcripts_small, tmp_path_factory):
    """Index built with a tiny row-group budget so even ~1200-row
    segments produce multi-row-group posting files."""
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    df = spark.createDataFrame(
        transcripts_small.drop(columns=["expected_doc_id"]))
    out = str(tmp_path_factory.mktemp("idx_multirg"))
    old = os.environ.get("CUELY_POSTING_RG_BYTES")
    os.environ["CUELY_POSTING_RG_BYTES"] = "4096"
    try:
        build_index(spark, df, out, rows_per_segment=1200)
    finally:
        if old is None:
            os.environ.pop("CUELY_POSTING_RG_BYTES", None)
        else:
            os.environ["CUELY_POSTING_RG_BYTES"] = old
    return IndexReader(spark, out)


def test_posting_files_have_multiple_row_groups(multirg_reader):
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(multirg_reader.path, "index",
                                   "kind=p", "**", "*.parquet"),
                      recursive=True)
    assert files
    assert max(pq.read_metadata(f).num_row_groups for f in files) > 1


def test_term_stats_small_row_groups_and_term_dfs(multirg_reader):
    """term_stats is written in small row groups, so a term_dfs lookup
    decodes a few hundred terms instead of a whole file; the pruned
    lookup equals a lookup in the full table for present, absent and
    non-ASCII terms, including each file's first and last term."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(
        multirg_reader._term_stats_path, "**", "*.parquet"),
        recursive=True))
    assert files
    assert min(pq.read_metadata(f).num_row_groups for f in files) > 1
    full = {}
    edges = []
    for f in files:
        t = pq.read_table(f, columns=["term", "df"])
        terms = t["term"].to_pylist()
        full.update(zip(terms, t["df"].to_pylist()))
        edges += [terms[0], terms[-1]]
    non_ascii = [t for t in sorted(full) if not t.isascii()]
    assert non_ascii
    present = (sorted(full)[::97] + edges + non_ascii[:20]
               + ["test", "the"])
    absent = ["xylophonequarks", "cafè", "中文", "ダダ", "", "a" * 60]
    assert not any(t in full for t in absent)
    got = multirg_reader.term_dfs(present + absent)
    assert got == {t: full.get(t, 0) for t in present + absent}
    assert all(got[t] > 0 for t in present)


def _row_key(t):
    return sorted(zip(t["segment_id"].to_pylist(),
                      t["term"].to_pylist(),
                      t["block_id"].to_pylist(),
                      [bytes(x) for x in t["docs"].to_pylist()]))


def test_pruned_reader_matches_dataset_scan(multirg_reader):
    import pyarrow.dataset as ds

    from cuely_spark.queryengine.executor import (_POSTING_COLS,
                                                  _PrunedTable)

    root = multirg_reader._postings_path
    pr = _PrunedTable(root, "term")
    dset = ds.dataset(root, format="parquet", partitioning="hive")
    for terms in (["test"], ["example", "website"], ["the"],
                  ["nosuchterm"], ["a", "the", "test", "website"]):
        a = pr.read(_POSTING_COLS, keys=terms)
        b = dset.to_table(columns=_POSTING_COLS,
                          filter=ds.field("term").isin(terms))
        assert a.num_rows == b.num_rows, terms
        if a.num_rows:
            assert _row_key(a) == _row_key(b), terms
    # positions column must ride along for phrase queries
    a = pr.read(_POSTING_COLS + ["positions"], keys=["test"])
    assert "positions" in a.column_names


@pytest.mark.parametrize("q", list(QUERY_SET))
def test_local_matches_distributed_on_multirg(multirg_reader, q):
    try:
        dl, sl = multirg_reader.search_local(q, k=20)
    except ValueError:
        pytest.skip("empty query")
    dd, sd = multirg_reader.search_collect(q, k=20, local=False)
    assert dl.tolist() == dd.tolist()
    np.testing.assert_array_equal(sl, sd)
    # and the pruned reader must actually be the engaged path (False
    # would mean the silent dataset fallback swallowed an error)
    assert multirg_reader._local_pruned not in (None, False)


def test_with_count_parity_on_multirg(multirg_reader):
    dl, sl, cl = multirg_reader.search_with_count(
        "example website", k=20, local=True)
    dd, sd, cd = multirg_reader.search_with_count(
        "example website", k=20, local=False)
    assert dl.tolist() == dd.tolist()
    assert int(cl) == int(cd) and cl.exact and cd.exact


def _mk_tbl(first, last, term=None, seg=None):
    import pyarrow as pa

    n = len(first)
    return pa.table({
        "segment_id": pa.array(seg or [0] * n, type=pa.int64()),
        "term": pa.array(term or ["t"] * n),
        "block_id": pa.array(list(range(n)), type=pa.int64()),
        "first_doc": pa.array(first, type=pa.int64()),
        "last_doc": pa.array(last, type=pa.int64()),
        "ndocs": pa.array([2] * n, type=pa.int64()),
        "docs": pa.array([b"\x01\x01"] * n, type=pa.binary()),
        "tfs": pa.array([b"\x00\x00"] * n, type=pa.binary()),
        "fnids": pa.array([b"\x01\x01"] * n, type=pa.binary()),
        "block_max_tf": pa.array([1] * n, type=pa.int64()),
        "block_min_fnid": pa.array([1] * n, type=pa.int64()),
    })


def test_concat_postings_requires_disjoint_ranges():
    from cuely_spark.queryengine.executor import _concat_arrow_postings

    # interleaved block ranges for one term are invalid index data
    with pytest.raises(ValueError, match="'t'"):
        _concat_arrow_postings(_mk_tbl([0, 5], [10, 20], seg=[0, 1]))
    # disjoint ranges -> one TermPostings, blocks in ascending doc
    # order regardless of input row order
    out = _concat_arrow_postings(
        _mk_tbl([50, 0], [60, 10], seg=[1, 0]))
    assert list(out) == ["t"]
    tp = out["t"]
    assert tp.first_doc.tolist() == [0, 50]
    assert tp.last_doc.tolist() == [10, 60]
    # two terms grouped independently
    out = _concat_arrow_postings(
        _mk_tbl([0, 0], [10, 10], term=["a", "b"], seg=[0, 0]))
    assert sorted(out) == ["a", "b"]


def test_every_writer_gives_disjoint_segment_ranges(
        spark, transcripts_small, tmp_path_factory):
    """The whole-index grouping raises on interleaved segment ranges,
    so each writer must give every segment a disjoint doc-id range: a
    bulk build (>= 3 segments), a merge of it down to 2 segments (cold
    re-block and salted hot paths) and a live root of 2 batches. All
    posting rows of each index group without raising."""
    from cuely_spark.indexer import build_index, merge_segments
    from cuely_spark.queryengine.executor import (_POSTING_COLS,
                                                  _PrunedTable,
                                                  _concat_arrow_postings)
    from cuely_spark.streaming import LiveIndexWriter

    tmp = tmp_path_factory.mktemp("disjoint")
    bulk, merged, live = (str(tmp / d) for d in ("bulk", "merged", "live"))
    pdf = transcripts_small.drop(columns=["expected_doc_id"]).head(600)
    build_index(spark, spark.createDataFrame(pdf), bulk,
                rows_per_segment=200)
    merge_segments(spark, bulk, merged, target_segments=2,
                   hot_df_threshold=30)
    w = LiveIndexWriter(spark, live)
    for bid, part in enumerate((pdf.iloc[:300], pdf.iloc[300:])):
        w.process_batch(spark.createDataFrame(part), bid)
    for root, min_segs in ((bulk, 3), (merged, 2), (live, 2)):
        tbl = _PrunedTable(os.path.join(root, "index", "kind=p"),
                           "term").read(_POSTING_COLS)
        assert len(set(tbl["segment_id"].to_pylist())) >= min_segs, root
        by_term = _concat_arrow_postings(tbl)
        assert len(by_term) == len(set(tbl["term"].to_pylist())), root


@pytest.fixture(scope="module")
def unsorted_reader(spark, multirg_reader, tmp_path_factory):
    """Copy of the multi-row-group index whose first segment's posting
    file is rewritten in DESCENDING term order, several row groups —
    row-group term ranges no longer ascend through the file."""
    import glob
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from cuely_spark.queryengine import IndexReader

    out = str(tmp_path_factory.mktemp("idx_unsorted") / "idx")
    shutil.copytree(multirg_reader.path, out)
    f = sorted(glob.glob(os.path.join(out, "index", "kind=p",
                                      "segment_id=*", "*.parquet")))[0]
    tbl = pq.read_table(f)
    tbl = tbl.take(pc.sort_indices(
        tbl, sort_keys=[("term", "descending"),
                        ("block_id", "ascending")]))
    pq.write_table(tbl, f, row_group_size=max(1, tbl.num_rows // 8))
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # Hadoop's checksum of the old file
    md = pq.read_metadata(f)
    assert md.num_row_groups > 2
    ti = md.schema.to_arrow_schema().get_field_index("term")
    mins = [md.row_group(i).column(ti).statistics.min
            for i in range(md.num_row_groups)]
    assert mins == sorted(mins, reverse=True) and mins[0] > mins[-1]
    return IndexReader(spark, out)


@pytest.mark.parametrize("q", list(QUERY_SET))
def test_unsorted_posting_file(unsorted_reader, oracle_small, q):
    try:
        dl, sl = unsorted_reader.search_local(q, k=20)
    except ValueError:
        pytest.skip("empty query")
    dd, sd = unsorted_reader.search_collect(q, k=20, local=False)
    assert dl.tolist() == dd.tolist()
    np.testing.assert_array_equal(sl, sd)
    od, _ = oracle_small.search(q, k=20)
    assert dl.tolist() == od.tolist()
    assert unsorted_reader._local_pruned not in (None, False)


def test_empty_read_keeps_column_types(multirg_reader):
    import pyarrow.dataset as ds

    from cuely_spark.queryengine.executor import (_POSTING_COLS,
                                                  _PrunedTable)

    cols = _POSTING_COLS + ["positions"]
    # sorts after every dictionary term: no row group can hold it
    got = _PrunedTable(multirg_reader._postings_path, "term").read(
        cols, keys=["\U0010ffff"])
    want = ds.dataset(multirg_reader._postings_path, format="parquet",
                      partitioning="hive").schema
    assert got.num_rows == 0
    assert sorted(got.column_names) == sorted(cols)
    for c in cols:
        if c != "segment_id":
            assert got.schema.field(c).type == want.field(c).type, c


def test_file_cap_reopens_past_cap(spark, multirg_reader, monkeypatch,
                                   caplog):
    """Files past _LOCAL_FILE_CAP keep only their cached footer and are
    reopened per read: same results, no warning, one open handle."""
    import logging

    from cuely_spark.queryengine import IndexReader, executor

    monkeypatch.setattr(executor, "_LOCAL_FILE_CAP", 1)
    r = IndexReader(spark, multirg_reader.path)
    qs = ("test", '"test website"', "example website -test")
    with caplog.at_level(logging.WARNING, logger="cuely_spark"):
        got = [r.search_local(q, k=20) for q in qs]
    assert not [x for x in caplog.records if x.name == "cuely_spark"]
    assert len(r._local_pruned._files) > 1
    assert len(r._local_pruned._open) <= 1
    for q, (d, s) in zip(qs, got):
        dd, sd = multirg_reader.search_local(q, k=20)
        assert d.tolist() == dd.tolist()
        np.testing.assert_array_equal(s, sd)


def _open_fds() -> int:
    return len(os.listdir("/proc/self/fd"))


@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"),
                    reason="needs /proc/self/fd")
def test_close_and_refresh_release_handles(spark, multirg_reader):
    from cuely_spark.queryengine import IndexReader

    from cuely_spark.queryengine import executor

    def cached_bytes(r):
        # decoded row groups the reader's open tables hold
        tokens = {t._token for t in vars(r).values()
                  if isinstance(t, executor._PrunedTable)}
        return sum(n for k, (_, n) in list(executor._decoded._lru.items())
                   if k[0] in tokens)

    r = IndexReader(spark, multirg_reader.path)
    before = _open_fds()
    want = r.search_local("example website", k=20)
    held = _open_fds() - before
    assert held > 0  # posting + term-stats files stay open
    tables = [t for t in vars(r).values()
              if isinstance(t, executor._PrunedTable)]
    assert cached_bytes(r) > 0
    r.close()
    assert _open_fds() == before
    assert not any(k[0] in {t._token for t in tables}
                   for k in list(executor._decoded._lru))
    for _ in range(20):
        r.refresh()
        d, s = r.search_local("example website", k=20)
        assert _open_fds() <= before + held
    assert d.tolist() == want[0].tolist()
    np.testing.assert_array_equal(s, want[1])
    assert cached_bytes(r) > 0
    r.close()
    assert _open_fds() == before
    assert cached_bytes(r) == 0


def test_decoded_cache_over_budget_matches_fresh_reader(
        spark, multirg_reader, monkeypatch):
    """With the decoded-column budget below the index's working set,
    one reader answers every query as a fresh reader does, while the
    cache evicts and never holds more than its budget."""
    from cuely_spark.queryengine import IndexReader, executor

    budget = 24 * 1024
    monkeypatch.setattr(executor, "_DECODED_CACHE_BYTES", budget)
    cache = executor._decoded
    ev0 = cache.stats()["evictions"]
    r = IndexReader(spark, multirg_reader.path)
    for q in list(QUERY_SET) * 2:
        try:
            got = r.search_local(q, k=20)
        except ValueError:
            continue  # empty query
        assert cache.resident_bytes <= budget
        fresh = IndexReader(spark, multirg_reader.path)
        want = fresh.search_local(q, k=20)
        fresh.close()
        assert got[0].tolist() == want[0].tolist(), q
        np.testing.assert_array_equal(got[1], want[1])
    assert cache.stats()["evictions"] > ev0
    r.close()


class _CountingPool:
    """Read pool stand-in that counts the tasks it is sent."""

    def __init__(self, pool):
        self.pool, self.tasks = pool, 0

    def map(self, fn, items):
        items = list(items)
        self.tasks += len(items)
        return self.pool.map(fn, items)


def test_cached_read_sends_no_pool_task(multirg_reader, monkeypatch):
    """A read whose (row group, column) pairs are all cached decodes
    nothing; adding `positions` decodes only that column."""
    from cuely_spark.queryengine import executor
    from cuely_spark.queryengine.executor import (_POSTING_COLS,
                                                  _PrunedTable)

    pool = _CountingPool(executor._get_local_read_pool())
    monkeypatch.setattr(executor, "_get_local_read_pool", lambda: pool)
    cache = executor._decoded
    pr = _PrunedTable(multirg_reader._postings_path, "term")
    terms = ["example", "test", "website"]
    first = pr.read(_POSTING_COLS, keys=terms)
    assert pool.tasks > 0
    pairs = sum(len(rgs) for _, rgs in pr._select(terms, None, None,
                                                  None))
    pool.tasks, m0, h0 = 0, cache.misses, cache.hits
    again = pr.read(_POSTING_COLS, keys=terms)
    assert pool.tasks == 0 and cache.misses == m0
    assert cache.hits - h0 == pairs * (len(_POSTING_COLS) - 1)
    assert _row_key(again) == _row_key(first)
    with_pos = pr.read(_POSTING_COLS + ["positions"], keys=terms)
    assert cache.misses - m0 == pairs  # the positions column only
    assert _row_key(with_pos) == _row_key(first)
    pr.close()


def test_worker_table_registry(multirg_reader, monkeypatch):
    """A Spark worker keeps one table per (root, snapshot file list,
    sort key), built from that list: the same triple gives the same
    table, another list another table, and a pickled reader table
    resolves to the registry's. One snapshot's posting, row-store and
    doc-stats tables stay resident together, and the registry stays
    bounded by closing the least recently used table, whose decoded
    row groups leave the cache with it."""
    import pickle

    from cuely_spark.queryengine import executor
    from cuely_spark.queryengine.executor import (_POSTING_COLS,
                                                  _worker_table)

    monkeypatch.setattr(executor, "_worker_tables", {})
    root = multirg_reader._postings_path
    files = multirg_reader._snapshot()[0]
    cap = executor._WORKER_TABLES
    assert len(files) > cap
    first = _worker_table(root, files, "term")
    assert _worker_table(root, files, "term") is first
    assert first.files == files
    sub = _worker_table(root, files[:-1], "term")
    assert sub is not first
    assert sub.files == files[:-1]
    want = multirg_reader._local_postings(["test", "website"], False)
    got = first.read(_POSTING_COLS, keys=["test", "website"])
    assert _row_key(got) == _row_key(want)

    def cached(table):
        return [k for k in list(executor._decoded._lru)
                if k[0] == table._token]

    assert cached(first) and first._open
    _worker_table(root, files[:-1], "term")  # now `first` is least recent
    for i in range(2, cap + 1):
        _worker_table(root, files[:-i], "term")
        assert len(executor._worker_tables) <= cap
    assert len(executor._worker_tables) == cap
    assert (root, files, "term") not in executor._worker_tables
    assert not first._open and not cached(first)
    assert _worker_table(root, files, "term") is not first

    # one snapshot's three tables: a task's closure pickles the
    # reader's tables as their snapshots, each a registry entry
    executor._worker_tables.clear()
    postings = _worker_table(root, files, "term")
    turns = pickle.loads(pickle.dumps(multirg_reader._turns_table))
    docs = pickle.loads(pickle.dumps(multirg_reader._doc_table))
    assert turns is not multirg_reader._turns_table
    assert turns.files == multirg_reader._turns_table.files
    assert (turns.key, docs.key) == ("__ord", "doc_id")
    assert pickle.loads(pickle.dumps(multirg_reader._turns_table)) is turns
    assert _worker_table(root, files, "term") is postings
    assert list(executor._worker_tables.values()) == [docs, turns,
                                                      postings]
    assert postings._open and turns._open and docs._open


@pytest.mark.parametrize("local", [True, False])
def test_live_batch_invisible_until_refresh(spark, transcripts_small,
                                            tmp_path, local):
    """A reader's cached row groups (local) and cached posting
    projection (distributed) belong to its snapshot: a live batch
    committed after it stays invisible, and refresh() shows it as a new
    reader does."""
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.streaming import LiveIndexWriter

    pdf = transcripts_small.drop(columns=["expected_doc_id"]).head(600)
    root = str(tmp_path / "live")
    w = LiveIndexWriter(spark, root)
    w.process_batch(spark.createDataFrame(pdf.iloc[:300]), 0)
    r = IndexReader(spark, root)
    d0, s0, c0 = r.search_with_count("the", k=20, local=local)
    w.process_batch(spark.createDataFrame(pdf.iloc[300:]), 1)
    d1, s1, c1 = r.search_with_count("the", k=20, local=local)
    assert d1.tolist() == d0.tolist() and int(c1) == int(c0)
    np.testing.assert_array_equal(s1, s0)
    r.refresh()
    d2, s2, c2 = r.search_with_count("the", k=20, local=local)
    fresh = IndexReader(spark, root)
    want = fresh.search_with_count("the", k=20, local=local)
    assert int(c2) > int(c0) and int(c2) == int(want[2])
    assert d2.tolist() == want[0].tolist()
    np.testing.assert_array_equal(s2, want[1])
    r.close()
    fresh.close()


def test_gate_reader_cache_is_bounded(tmp_path, monkeypatch):
    """__spark_entry__ keeps at most _READERS_MAX readers and closes
    the least recently used one it evicts."""
    import __spark_entry__ as entry
    from cuely_spark import fsio
    from cuely_spark.queryengine import IndexReader

    closed = []
    monkeypatch.setattr(IndexReader, "close",
                        lambda self: closed.append(self.path))
    monkeypatch.setattr(entry, "_READERS", type(entry._READERS)())
    spark = object()  # opening a reader reads only stats.json
    paths = []
    for i in range(entry._READERS_MAX + 3):
        p = str(tmp_path / f"idx{i}")
        fsio.write_json(os.path.join(p, "stats.json"),
                        {"num_docs": 1, "avg_fieldnorm": 1.0})
        paths.append(p)
    first = entry._cached_reader(spark, paths[0])
    for p in paths[1:]:
        entry._cached_reader(spark, p)
        entry._cached_reader(spark, paths[0])  # keep paths[0] hot
    assert entry._cached_reader(spark, paths[0]) is first
    assert len(entry._READERS) == entry._READERS_MAX
    assert closed == paths[1:4]
    assert paths[0] not in closed


def test_index_reads_go_through_one_reader():
    """Every index-table read in executor.py / explain.py (postings,
    term stats, sidecar, row store and doc stats) goes through
    _PrunedTable, with no pyarrow.dataset scan left. Anywhere in the
    package, row groups are decoded only inside _PrunedTable, so its
    decoded-column cache sees every driver-local decode."""
    import ast
    import glob
    import inspect

    import cuely_spark
    from cuely_spark.queryengine import executor, explain

    allowed = {"_PrunedTable"}
    banned = {("ds", "dataset"), ("pq", "ParquetFile"),
              ("pq", "read_table")}
    decodes = {"read_row_group", "read_row_groups"}
    bad = []

    def walk(node, scope, name, index_module):
        for ch in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(ch, (ast.FunctionDef, ast.ClassDef)):
                inner = scope + [ch.name]
            if isinstance(ch, ast.Call) and isinstance(ch.func,
                                                       ast.Attribute):
                f = ch.func
                if (index_module and isinstance(f.value, ast.Name)
                        and (f.value.id, f.attr) in banned
                        and not allowed.intersection(scope)):
                    bad.append((name, ch.lineno, f.attr))
                if f.attr in decodes and "_PrunedTable" not in scope:
                    bad.append((name, ch.lineno, f.attr))
            walk(ch, inner, name, index_module)

    pkg = os.path.dirname(cuely_spark.__file__)
    files = glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    index_modules = {inspect.getsourcefile(m) for m in (executor, explain)}
    assert index_modules <= set(files)
    for path in files:
        with open(path) as f:
            walk(ast.parse(f.read()), [], path, path in index_modules)
    assert not bad, bad
    # no pyarrow.dataset reader left in the query engine
    qdir = os.path.dirname(inspect.getsourcefile(executor))
    for path in glob.glob(os.path.join(qdir, "*.py")):
        with open(path) as f:
            assert "pyarrow.dataset" not in f.read(), path
    # no Spark scan of the posting files: distributed tasks read them
    # through _PrunedTable as well
    scans = [ast.unparse(n) for n in ast.walk(ast.parse(
        inspect.getsource(executor)))
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "parquet"]
    assert scans and not [c for c in scans if "_postings_path" in c
                          or "kind=p" in c], scans


def test_one_plan_one_local_kernel_call():
    """Structural guard for the single query path: per-segment posting
    groups are built only for the distributed tasks (`_task_postings`)
    and by the whole-index entry point, never on a driver-local read;
    search_local makes ONE kernel call; the whole-index grouping never
    returns None (no fallback); and search_bm25f only plans and hands
    the plan to search() — no scorer of its own."""
    import ast
    import inspect

    from cuely_spark.queryengine import executor, explain, kernel

    kernel_fns = {n for n, v in vars(kernel).items()
                  if inspect.isfunction(v) and v.__module__ == kernel.__name__}
    calls: dict[str, list[tuple[str, str]]] = {}
    funcs: dict[str, ast.FunctionDef] = {}

    def name_of(f):
        return (f.id if isinstance(f, ast.Name)
                else f.attr if isinstance(f, ast.Attribute) else None)

    def walk(node, scope):
        for ch in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(ch, ast.FunctionDef):
                inner = scope + [ch.name]
                funcs.setdefault(ch.name, ch)
            if isinstance(ch, ast.Call) and name_of(ch.func):
                calls.setdefault(name_of(ch.func), []).append(
                    (mod.__name__, (scope or ["<module>"])[-1]))
            walk(ch, inner)

    for mod in (executor, explain):
        walk(ast.parse(inspect.getsource(mod)), [])
    assert {s for _, s in calls["_arrow_postings"]} == {
        "_task_postings", "_concat_arrow_postings"}
    assert [s for _, s in calls["_eval_group"]].count("search_local") == 1
    assert not any(isinstance(n, (ast.For, ast.While, ast.comprehension))
                   for n in ast.walk(funcs["search_local"]))

    def may_be_none(e):
        if e is None or isinstance(e, ast.Constant):
            return e is None or e.value is None
        if isinstance(e, ast.IfExp):
            return may_be_none(e.body) or may_be_none(e.orelse)
        if isinstance(e, ast.BoolOp):
            return any(may_be_none(v) for v in e.values)
        return False

    for fn in ("_arrow_postings", "_concat_arrow_postings"):
        assert not any(isinstance(r, ast.Return) and may_be_none(r.value)
                       for r in ast.walk(funcs[fn])), fn
    bm25f_calls = {name_of(c.func) for c in ast.walk(funcs["search_bm25f"])
                   if isinstance(c, ast.Call)}
    assert "search" in bm25f_calls and "_plan" in bm25f_calls
    banned = {"mapInArrow", "term_dfs", "_eval_group", "_make_specs",
              "_task_postings"} | kernel_fns
    assert not bm25f_calls & banned, bm25f_calls & banned
