"""Stat-checked `zipimporter.invalidate_caches` for Python < 3.13.

Before every task, PySpark's Python worker calls
`importlib.invalidate_caches()` (`pyspark/worker_util.py`,
`setup_spark_files`). On Python 3.10–3.12 every `zipimport.zipimporter`
answers that by re-reading its archive's whole central directory. A reused
worker holds about 16 of them, over `pyspark.zip` (1,328 entries, ~10 ms a
read) and the Spark core jar on the worker path (5,359 entries, ~45 ms), so
the call cost 0.16–0.23 s of Python CPU on every task of every Python stage
(Python 3.11.7, 4-core VM). After `install()` it cost 0.2 ms. Python 3.13
re-reads lazily, so there the class is left as it is.

The replacement re-reads an archive only when its `(st_mtime_ns, st_size)`
differs from the stat taken when that importer last read it. A missing
archive is re-read as before (the importer then holds no files).
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stat(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch `zipimporter.invalidate_caches` once per process; idempotent."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    reread = cls.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        key = _stat(self.archive)  # before the read: a change during it re-reads next time
        if key is None or getattr(self, "_read_stat", None) != key:
            reread(self)
            self._read_stat = key

    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder._read_stat = _stat(finder.archive)
