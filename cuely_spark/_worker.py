"""Spark Python-worker set-up, run once per worker process.

At the start of every task pyspark's ``worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. On CPython <= 3.11 each
``zipimporter`` answers that by re-reading its archive's central
directory, and a worker's import path holds ``pyspark.zip``, the py4j
zip and Spark's jars (``spark-core`` alone has 5,359 entries), so a
reused worker paid ~0.2 s per task for directories that never change.
:func:`skip_unchanged_zip_rereads` makes a zipimporter re-read only an
archive whose ``(st_mtime_ns, st_size)`` moved since its last read.
Every other finder is still invalidated, so ``addPyFile`` keeps working.

After every task, the daemon of a reused worker runs a full
``gc.collect()`` that walks every tracked object the worker's imports
left (numpy, pandas, pyarrow, pyspark and this package: ~73k objects,
~14 ms a task). :func:`freeze_import_heap` moves that heap into the
permanent generation once per worker, so each later collect walks only
what a task allocated.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

# stat of the archive at a zipimporter's last directory read
_STAT_ATTR = "_cuely_read_stat"

# whether freeze_import_heap has run in this process
_freeze_installed = False


def _on_worker() -> bool:
    """Whether this process is a Spark Python worker: pyspark marks it
    (``SparkFiles._is_running_on_worker``) before it deserializes the
    task's functions, which is what imports this package there."""
    files = sys.modules.get("pyspark.core.files")
    return files is not None and files.SparkFiles._is_running_on_worker


def skip_unchanged_zip_rereads() -> None:
    """Wrap ``zipimporter.invalidate_caches`` on a Spark Python worker.

    A no-op on the driver and outside Spark. Idempotent."""
    if not _on_worker():
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            setattr(self, _STAT_ATTR, None)
            return reread(self)
        # stat before the read: a write racing the read shows up as a
        # changed stat on the next call
        key = (st.st_mtime_ns, st.st_size)
        if getattr(self, _STAT_ATTR, None) != key:
            setattr(self, _STAT_ATTR, key)
            return reread(self)

    invalidate_caches._skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _importing() -> bool:
    """Whether some module is still running its body: an import is in
    flight, so the heap is not yet the worker's import-time heap."""
    return any(getattr(getattr(m, "__spec__", None), "_initializing", False)
               for m in list(sys.modules.values()))


def freeze_import_heap() -> None:
    """Freeze, once per Spark Python worker, the objects that survive
    its first full collection run outside an import.

    The first task's deserialization imports the engine, and a full
    collection may start while an import is still running; such a
    collection is skipped, as freezing then would leave the rest of the
    import to be walked after every task. The hook removes itself once
    it has frozen. Frozen objects are still freed when their refcount
    drops to zero; only frozen objects that later form garbage cycles
    are never freed, and the one-shot freeze bounds those to the
    import-time heap. A no-op on the driver and outside Spark.
    Idempotent."""
    global _freeze_installed
    if _freeze_installed or not _on_worker():
        return
    _freeze_installed = True

    def freeze_once(phase, info):
        if phase != "stop" or info["generation"] != 2 or _importing():
            return
        gc.callbacks.remove(freeze_once)
        gc.freeze()

    gc.callbacks.append(freeze_once)
