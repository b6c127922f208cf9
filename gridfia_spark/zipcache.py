"""A stat-guarded ``zipimporter.invalidate_caches``, installed on import
(``import gridfia_spark`` imports this module) on Python < 3.13.

PySpark calls ``importlib.invalidate_caches()`` before every task's UDF
runs. On Python < 3.13 that makes every cached ``zipimporter`` re-read its
archive's central directory: a worker holds a dozen importers on
``pyspark.zip``, two on the spark-core jar and two on py4j, so each task
paid 0.12-0.30 s re-reading archives that had not changed. The guard
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)``
differs from the stamp taken just before its directory was last read;
otherwise it points the importer back at the shared directory cache. A
failed ``stat`` (a deleted archive, say) takes the stdlib path. CPython
3.13's method only drops the cache, so nothing is installed there.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMPS: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_size, st.st_mtime_ns


def _read_directory(archive: str) -> dict:
    """The stdlib read, stamped first: a rewrite during the read differs."""
    try:
        stamp = _stamp(archive)
    except OSError:
        stamp = None
    files = _stdlib_read(archive)
    if stamp is not None:
        _STAMPS[archive] = stamp
    return files


def invalidate_caches(self) -> None:
    try:
        stamp = _stamp(self.archive)
    except OSError:
        return _stdlib_invalidate(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _STAMPS.get(self.archive) != stamp:
        return _stdlib_invalidate(self)
    self._files = files


if sys.version_info < (3, 13):
    _stdlib_read = zipimport._read_directory
    _stdlib_invalidate = zipimport.zipimporter.invalidate_caches
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
