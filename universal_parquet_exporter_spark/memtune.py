"""Worker tuning on import: glibc malloc, and zip-import directory caching.

Large NumPy temporaries are malloc'd above the default mmap threshold, so
every fresh buffer triggers mmap + page faults and every free munmaps it.
On kernels where faults are expensive (microVM sandboxes) this makes
allocating vector ops 10-100× slower than in-place ones.  Raising
``M_MMAP_THRESHOLD`` / ``M_TRIM_THRESHOLD`` keeps big blocks on the brk
heap where glibc reuses them.  Called from the package ``__init__`` so
Spark Python workers inherit it when they unpickle our UDFs.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import os
import sys
import zipimport

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3

_applied = False


def tune_malloc(threshold: int = 1 << 31) -> bool:
    """Raise glibc mmap/trim thresholds; no-op on non-glibc platforms."""
    global _applied
    if _applied:
        return True
    try:
        libc = ctypes.CDLL(ctypes.util.find_library("c") or "libc.so.6", use_errno=True)
        libc.mallopt(_M_MMAP_THRESHOLD, ctypes.c_int(threshold if threshold < 2**31 else 2**31 - 1))
        libc.mallopt(_M_TRIM_THRESHOLD, ctypes.c_int(threshold if threshold < 2**31 else 2**31 - 1))
        _applied = True
        return True
    except Exception:
        return False


def cache_zip_directories() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip an unchanged archive.

    pyspark calls ``importlib.invalidate_caches()`` in every Python task
    and DataSource planner call.  Before CPython 3.13 made it lazy
    (gh-103200), that re-reads every ``zipimporter``'s whole archive
    directory: 16 importers over ``pyspark.zip`` (1,328 entries) in a
    worker, 0.12-0.23 s per call on a 4-core host, against 1-2 ms of
    engine work per planner call.  Keying each importer on its archive's
    ``(st_mtime_ns, st_size)`` keeps the stdlib semantics: a changed
    archive (a new ``--py-files`` zip) and each importer's first call
    still re-read, and an archive that cannot be stat'ed falls through
    to the stdlib method.  Idempotent; returns whether it is installed.
    """
    if sys.version_info >= (3, 13):
        return False
    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_keyed_on_stat", False):
        return True

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stdlib(self)
        key = (st.st_mtime_ns, st.st_size)
        if self.__dict__.get("_dir_stat") != key:
            stdlib(self)
            self._dir_stat = key

    invalidate_caches._keyed_on_stat = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
