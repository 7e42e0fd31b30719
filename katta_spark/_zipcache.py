"""Stat-guarded ``zipimporter.invalidate_caches`` for PySpark workers.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). On CPython < 3.13 that
makes every ``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read
its archive's whole central directory — and a worker's ``sys.path`` holds
pyspark.zip (one importer per imported subpackage), the py4j zip and the
spark-core jar. Measured in a reused worker on a 4-CPU host that is
130-220 ms per task, against ~10 ms of task CPU: the per-task floor of
every Python kernel.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the last read, so an archive that was rewritten is
still picked up and an unchanged one costs one ``stat``. CPython 3.13
already drops the cache entry lazily instead of re-reading, so nothing is
installed there. Importing ``katta_spark`` installs the guard; every kernel
closure imports ``katta_spark`` inside the worker, so a reused worker skips
the re-read from its second task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key taken just before its last directory read
_read_keys: dict = {}


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _make_guard(reread):
    def invalidate_caches(self):
        """Reload the archive's file data if the archive changed since
        the last read; otherwise keep the shared cached directory."""
        archive = self.archive
        key = _stat_key(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if key is not None and files is not None and _read_keys.get(archive) == key:
            self._files = files
            return
        # stat BEFORE the read: a rewrite racing the read leaves an older
        # key beside newer data, which only costs one extra re-read. A
        # failed read drops the cache entry, so the next call re-reads.
        reread(self)
        _read_keys[archive] = key

    invalidate_caches._katta_reread = reread
    return invalidate_caches


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process (no-op on
    CPython >= 3.13 or when already installed)."""
    if sys.version_info >= (3, 13):
        return
    current = zipimport.zipimporter.invalidate_caches
    if hasattr(current, "_katta_reread"):
        return
    zipimport.zipimporter.invalidate_caches = _make_guard(current)


def installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "_katta_reread")
