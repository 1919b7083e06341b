"""Stop Spark Python workers re-parsing unchanged zip archives on every task.

Each Python task starts in ``pyspark.worker_util.setup_spark_files``, which
ends with ``importlib.invalidate_caches()``. On CPython before 3.13 that
calls ``zipimport.zipimporter.invalidate_caches`` on every zipimporter in
``sys.path_importer_cache``, and that method eagerly re-parses the whole
zip central directory. A warm worker holds about a dozen importers on
``pyspark.zip`` (1,328 entries) and two on the spark-core jar (5,359
entries), so every task spent 0.22-0.26 s of CPU re-reading archives that
had not changed. CPython 3.13 made the method lazy.

``install`` replaces the method, in PySpark worker processes only, with one
that re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)``
stamp differs from the one the importer saw at its last read (or the stat
fails). A changed archive, such as a new ``addPyFile`` zip, is still
re-read. The package ``__init__`` calls it, so the first engine task a
reused worker runs installs the fix for the life of that worker.
"""

from __future__ import annotations

import os
import sys
import zipimport

_MARKER = "_skips_unchanged_archives"
_STAMP = "_annotations_ingester_archive_stamp"


def install() -> bool:
    """Install the stamp-checked ``invalidate_caches`` if this process is a
    PySpark worker on CPython < 3.13; return whether it is in place.
    Idempotent."""
    if (
        sys.implementation.name != "cpython"
        or sys.version_info >= (3, 13)
        or "pyspark.worker" not in sys.modules  # the daemon imports it pre-fork
    ):
        return False
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, _MARKER, False):
        return True

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is not None and stamp == getattr(self, _STAMP, None):
            return
        original(self)
        # stamped before the read: an archive rewritten mid-read differs
        # from it next time, so it is read again
        setattr(self, _STAMP, stamp)

    setattr(invalidate_caches, _MARKER, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
