"""Process bootstrap, installed by importing the package.

Every Spark Python worker that unpickles an engine UDF imports this
package, so the fix below lands once per worker process and helps every
later task that reuses the worker (``spark.python.worker.reuse``, on by
default).

At the start of every Python task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``.  Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-parses the archive's whole
central directory, once per importer.  A worker with ``pyspark.zip`` and
the py4j source zip on its ``PYTHONPATH`` holds about 16 importers over
those two archives (~26.7k entries in total), so each task spent
130-250 ms of CPU on a 4-core host before its UDF started.  CPython 3.13
made the call lazy: it only drops the archive from
``zipimport._zip_directory_cache``.

On CPython < 3.13 :func:`install` swaps in a method that re-reads an
archive only when its ``(st_mtime_ns, st_size)`` changed since the last
read of that path, and lets every importer of one archive share that
read.  ``self._files`` and ``_zip_directory_cache`` end in the state the
original leaves them in.  A rewrite that keeps both the size and the
mtime of an archive goes unseen, the same limit the import system
accepts for ``.pyc`` files checked by source mtime.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# zipimport.zipimporter.invalidate_caches is lazy from this version on
_LAZY_ZIP_INVALIDATE = sys.version_info >= (3, 13)

# archive path -> (st_mtime_ns, st_size) when it was last read; one per
# process, like the zipimport._zip_directory_cache entries it vouches for
_read_stamps: dict[str, tuple[int, int]] = {}


def install() -> bool:
    """Install the stat-checked ``zipimporter.invalidate_caches``.

    Idempotent; returns whether the stat-checked method is in place
    (always False on CPython >= 3.13, which needs no fix)."""
    if _LAZY_ZIP_INVALIDATE:
        return False
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return True
    original = cls.invalidate_caches

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _read_stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stat before the read: a rewrite racing the read leaves the
        # older stamp behind, so the next call reads again
        original(self)
        _read_stamps[self.archive] = stamp

    cls.invalidate_caches = invalidate_caches
    return True
