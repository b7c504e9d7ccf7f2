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
"""

from __future__ import annotations

import os
import sys
import zipimport

# stat of the archive at a zipimporter's last directory read
_STAT_ATTR = "_cuely_read_stat"


def skip_unchanged_zip_rereads() -> None:
    """Wrap ``zipimporter.invalidate_caches`` on a Spark Python worker.

    A no-op on the driver and outside Spark: pyspark marks a process as
    a worker (``SparkFiles._is_running_on_worker``) before it
    deserializes the task's functions, which is what imports this
    package there. Idempotent."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
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
