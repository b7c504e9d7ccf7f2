"""Spark Python-worker set-up (cuely_spark._worker): a reused worker
re-reads a zip archive's directory on importlib.invalidate_caches() only
when the archive changed on disk, every other finder is still
invalidated, and the worker's import-time heap is frozen once, outside
any import; the driver is never patched or frozen."""

import gc
import importlib
import importlib.machinery
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import numpy as np
import pytest

import cuely_spark._worker as worker_setup
from cuely_spark._worker import freeze_import_heap, skip_unchanged_zip_rereads

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _patched() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "_skips_unchanged", False)


def _directory(imp):
    """The archive directory a zipimporter currently serves from (the
    object a re-read replaces)."""
    return zipimport._zip_directory_cache[imp.archive]


def _write_zip(path, **modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def as_worker(monkeypatch):
    """Install the set-up as a Spark worker would, restoring the
    original zipimporter.invalidate_caches afterwards."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    skip_unchanged_zip_rereads()
    assert _patched()
    return monkeypatch


@pytest.fixture
def archive(tmp_path, as_worker):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, zmod_a="A = 1\n")
    imp = zipimport.zipimporter(path)
    as_worker.setitem(sys.path_importer_cache, path, imp)
    importlib.invalidate_caches()  # first call reads and records the stat
    return path, imp


def test_unchanged_archive_is_not_reread(archive):
    _, imp = archive
    before = _directory(imp)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert _directory(imp) is before


def test_rewritten_archive_is_reread(archive):
    path, imp = archive
    before = _directory(imp)
    _write_zip(path, zmod_a="A = 1\n", zmod_b="B = 2\n")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert _directory(imp) is not before
    assert "zmod_b.py" in _directory(imp)
    assert imp.find_spec("zmod_b") is not None


def test_missing_archive_is_reread(archive):
    path, imp = archive
    os.remove(path)
    importlib.invalidate_caches()  # the original handles a failed read
    assert imp.find_spec("zmod_a") is None


def test_file_finders_are_still_invalidated(tmp_path, archive, as_worker):
    d = str(tmp_path / "pkgdir")
    os.makedirs(d)
    finder = importlib.machinery.FileFinder(
        d, (importlib.machinery.SourceFileLoader, [".py"]))
    as_worker.setitem(sys.path_importer_cache, d, finder)
    assert finder.find_spec("absent_mod") is None
    assert finder._path_mtime != -1
    importlib.invalidate_caches()
    assert finder._path_mtime == -1


def test_install_is_idempotent(as_worker):
    installed = zipimport.zipimporter.invalidate_caches
    skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_driver_is_not_patched(spark):
    import cuely_spark  # noqa: F401  (the install runs at import)

    spark.range(4, numPartitions=2).count()
    skip_unchanged_zip_rereads()
    assert not _patched()


@pytest.fixture
def freeze_hook(monkeypatch):
    """Install the heap freeze as a Spark worker would, then drop the
    hook and unfreeze the heap."""
    from pyspark.core.files import SparkFiles

    assert gc.get_freeze_count() == 0
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(worker_setup, "_freeze_installed", False)
    hooks = list(gc.callbacks)
    freeze_import_heap()
    assert len(gc.callbacks) == len(hooks) + 1
    yield hooks
    gc.callbacks[:] = hooks
    gc.unfreeze()


def test_freeze_once_after_a_full_collection(freeze_hook):
    gc.collect()
    frozen = gc.get_freeze_count()
    assert frozen > 0
    assert gc.callbacks == freeze_hook  # the hook removed itself
    freeze_import_heap()  # a second install is a no-op
    assert gc.callbacks == freeze_hook
    gc.collect()
    assert gc.get_freeze_count() <= frozen


def test_no_freeze_during_an_import(freeze_hook, tmp_path, monkeypatch):
    """A full collection that runs while a module body is executing
    leaves the heap unfrozen; the next one outside the import freezes."""
    (tmp_path / "collect_in_body.py").write_text(
        "import gc\ngc.collect()\nFROZEN = gc.get_freeze_count()\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.delitem(sys.modules, "collect_in_body", raising=False)
    mod = importlib.import_module("collect_in_body")
    assert mod.FROZEN == 0
    assert len(gc.callbacks) == len(freeze_hook) + 1
    gc.collect()
    assert gc.get_freeze_count() > 0


def test_driver_heap_is_not_frozen(spark):
    import cuely_spark  # noqa: F401  (the install runs at import)

    frozen, hooks = gc.get_freeze_count(), list(gc.callbacks)
    freeze_import_heap()
    spark.range(4, numPartitions=2).mapInArrow(
        lambda batches: batches, "id long").count()
    gc.collect()
    assert gc.get_freeze_count() == frozen
    assert gc.callbacks == hooks


def test_reused_worker_collects_over_a_frozen_heap(spark, monkeypatch):
    """In a reused worker, the tasks after the one that first imported
    the engine run over a frozen heap: the daemon's post-task collect
    walks under a tenth of the heap it walked after that first task."""
    # a worker environment of its own gets a fresh worker pool, whose
    # first task is the first to import the engine
    monkeypatch.setitem(spark.sparkContext.environment,
                        "CUELY_TEST_FRESH_WORKERS", "1")

    def _probe(batches):
        import gc
        import os

        import pyarrow as pa

        import cuely_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "frozen": [gc.get_freeze_count()],
            "tracked": [len(gc.get_objects())],
        })

    tasks = {}
    for _ in range(30):
        row = (spark.range(1, numPartitions=1)
               .mapInArrow(_probe, "pid long, frozen long, tracked long")
               .collect()[0])
        tasks.setdefault(row.pid, []).append(row)
        if len(tasks[row.pid]) == 3:
            break
    assert len(tasks[row.pid]) == 3, "no Python worker ran three tasks"
    first, second, third = tasks[row.pid]
    assert second.frozen > 0 and third.frozen > 0, (second, third)
    # the second task's own objects include the pyspark and jar zip
    # directories that the worker re-reads once, on its first
    # invalidation after the install: tuples the next collect untracks
    assert third.tracked < (first.tracked + first.frozen) / 10, (
        first, third)
    assert gc.get_freeze_count() == 0  # the driver stays as it was


def test_reused_worker_does_not_reread_pyspark_zip(spark):
    def _probe(batches):
        """One task: report this worker's pid, whether the set-up is
        installed and whether pyspark.zip's directory survived the
        invalidation pyspark ran before this task and one run in it."""
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import cuely_spark  # noqa: F401

        imp = next(f for p, f in list(sys.path_importer_cache.items())
                   if isinstance(f, zipimport.zipimporter)
                   and os.path.basename(f.archive) == "pyspark.zip")
        d = zipimport._zip_directory_cache[imp.archive]
        prev = getattr(imp, "_probe_prev", None)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache[imp.archive]
        imp._probe_prev = after
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "installed": [bool(getattr(zipimport.zipimporter.invalidate_caches,
                                       "_skips_unchanged", False))],
            "kept_across_tasks": [prev is d],
            "kept_in_task": [after is d],
        })

    schema = ("pid long, installed boolean, kept_across_tasks boolean, "
              "kept_in_task boolean")
    seen, repeats = set(), []
    for _ in range(20):
        row = (spark.range(1, numPartitions=1).mapInArrow(_probe, schema)
               .collect()[0])
        assert row.installed
        if row.pid in seen:
            repeats.append(row)
            if len(repeats) >= 2:
                break
        seen.add(row.pid)
    assert repeats, "no Python worker was reused"
    for row in repeats:
        assert row.kept_across_tasks and row.kept_in_task, row
    assert not _patched()  # the driver stays as it was


_ZIP_DRIVER = textwrap.dedent("""
    import json, os, sys
    zip_path, out, queries = sys.argv[1], sys.argv[2], sys.argv[3:]
    sys.path.insert(0, zip_path)   # what spark-submit --py-files does
    from cuely_spark.session import get_spark

    spark = get_spark(app="zip-import", cores=2, shuffle_partitions=2,
                      driver_mem="1g")
    spark.sparkContext.addPyFile(zip_path)
    import cuely_spark
    from cuely_spark.datagen import generate_transcripts
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    pdf = generate_transcripts(600, seed=7)
    build_index(spark, spark.createDataFrame(pdf), out,
                rows_per_segment=300, num_jobs=1)
    r = IndexReader(spark, out)
    r.small_query_blocks = 0  # one task per segment
    hits = {}
    for q in queries:
        docs, scores = r.search_collect(q, k=10, local=False)
        hits[q] = [docs.tolist(), scores.tolist()]

    def where(batches):
        import os
        import zipimport
        import pyarrow as pa
        import cuely_spark
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "file": [cuely_spark.__file__],
            "installed": [bool(getattr(
                zipimport.zipimporter.invalidate_caches,
                "_skips_unchanged", False))]})

    probe = [r.asDict() for r in spark.range(2, numPartitions=2)
             .mapInArrow(where, "file string, installed boolean")
             .collect()]
    print(json.dumps({"driver_file": cuely_spark.__file__,
                      "segments": r.stats["num_segments"],
                      "hits": hits, "workers": probe}))
    spark.stop()
""")


def test_zip_imported_package_distributed_search(spark, tmp_path):
    """spark-submit --py-files mode: the package zip from
    scripts/package.sh is the only copy the driver and the workers can
    import; a per-segment distributed search gives the same hits as the
    directory-imported package, and the workers run the set-up."""
    from cuely_spark.queryengine import IndexReader

    subprocess.run(["sh", os.path.join(REPO, "scripts", "package.sh")],
                   check=True, capture_output=True)
    zip_path = os.path.join(REPO, "dist", "cuely_spark.zip")
    script = tmp_path / "zip_driver.py"
    script.write_text(_ZIP_DRIVER)
    out = str(tmp_path / "idx")
    queries = ["the test", "example website", '"test website"']
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "spark-local")
    proc = subprocess.run(
        [sys.executable, str(script), zip_path, out, *queries],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["driver_file"].startswith(zip_path + os.sep)
    assert res["segments"] == 2
    assert len(res["workers"]) == 2
    for w in res["workers"]:  # the worker's copy of the added zip
        assert os.sep.join(("", "cuely_spark.zip", "cuely_spark", "")) \
            in w["file"], w
        assert w["installed"], w

    r = IndexReader(spark, out)
    r.small_query_blocks = 0
    for q in queries:
        docs, scores = r.search_collect(q, k=10, local=False)
        assert res["hits"][q][0] == docs.tolist(), q
        np.testing.assert_array_equal(res["hits"][q][1], scores)
    assert any(res["hits"][q][0] for q in queries)
