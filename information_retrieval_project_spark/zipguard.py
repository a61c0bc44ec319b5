"""Stat-gated zip-importer refresh: the fixed per-task cost of a reused
Python worker on Python < 3.12.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On Python 3.11 that calls
``zipimporter.invalidate_caches`` on every cached zip importer, and each
call re-parses the WHOLE archive directory — with pyspark.zip (one
importer per imported sub-package), the spark-core jar and py4j on the
worker's sys.path that is 16 importers and 26,672 central-directory
entries per task, 0.38 s of a no-op ``mapInArrow`` task's 0.44 s in a
cProfile of a reused worker. CPython 3.12 made the refresh lazy
(gh-103200), so there ``install`` does nothing.

``install`` (run when the package is imported, on the driver and in every
worker that unpickles a package UDF) replaces the method with one that
re-reads an archive only when its ``os.stat`` (mtime_ns, size, inode)
differs from the stat at that importer's last read, so a rewritten
``--py-files`` zip is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ACTIVE = sys.version_info < (3, 12)
_original = zipimport.zipimporter.invalidate_caches


def _stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed."""
    # stat BEFORE reading: a rewrite racing the read leaves an old stat on
    # new data, which costs one more read later, never a stale listing
    stat = _stat(self.archive)
    if stat is None or getattr(self, "_stat_at_read", None) != stat:
        _original(self)
        self._stat_at_read = stat


def install() -> None:
    if _ACTIVE:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
