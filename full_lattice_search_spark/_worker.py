"""One-time preparation of a Spark Python worker process.

Two fixed costs hit every Python task before it touches a row:

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` at the start of every task.  Before
  CPython 3.13 that makes every cached ``zipimport.zipimporter`` re-read
  its archive's whole zip directory, and a worker holds one importer per
  imported pyspark sub-package inside ``pyspark.zip`` (~1.3k entries):
  0.2-0.4 s per task.
- ``pyspark.daemon`` runs a full ``gc.collect()`` after every task in a
  reused worker, walking the ~74k objects the imports left behind.

``prepare()`` runs once, at the end of the package import.  Every engine
UDF is pickled by reference to package functions, so the first engine
task a worker runs imports the package and prepares the process.  Outside
a Spark task (the driver) it does nothing.  In a worker it

1. replaces ``zipimporter.invalidate_caches`` with a version that re-reads
   an archive only when its ``(st_mtime_ns, st_size)`` changed since the
   last read (CPython 3.13 made this invalidation lazy upstream), so a
   changed archive still imports fresh;
2. ``gc.freeze()``s the import-time objects, so the daemon's per-task
   collection scans only the task's own objects.

Neither changes what any UDF computes.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size) of the archive when
# ``_invalidate_caches`` last read its directory
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """Stat-guarded ``zipimporter.invalidate_caches``: re-read the zip
    directory only when the archive changed since the last read, else
    re-point this importer at the shared cached directory.  The stamp is
    taken before the read, so a write racing the read is caught by the
    next call; the importers sharing one archive read it at most once per
    ``importlib.invalidate_caches()``."""
    archive = self.archive
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None and _read_stamps.get(archive) == stamp:
        self._files = cached
        return
    _STDLIB_INVALIDATE(self)
    # after a failed read the archive has no cached directory, so the next
    # call reads again whatever the stamp says
    if stamp is not None:
        _read_stamps[archive] = stamp


def install_zip_guard() -> None:
    """Route ``zipimporter.invalidate_caches`` through the stat guard
    (before CPython 3.13; later versions invalidate lazily themselves)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def prepare() -> None:
    """Prepare this process if it is a Spark Python worker (see module
    docstring); a no-op on the driver."""
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    install_zip_guard()
    gc.freeze()
