"""Zip-import directory caching, applied on package import.

glibc's malloc thresholds are not tuned here: on fault-expensive
kernels, large fresh allocations are 10-100x slower than reused ones,
so ``sources.session.build_session`` raises them in every Python
worker's environment (``spark.executorEnv.*``), where the encode and
decode kernels allocate.  The driver keeps glibc's defaults, so the
heap it frees goes back to the OS.
"""

from __future__ import annotations

import os
import sys
import zipimport


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
