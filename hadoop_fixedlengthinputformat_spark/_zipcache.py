"""Stat-guarded ``zipimporter.invalidate_caches`` for Python < 3.13.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every call it serves (``pyspark.worker_util.setup_spark_files``): the
data source schema and read planners, ``pushFilters``, every task and
every sink commit.  Up to Python 3.12 that makes every cached
``zipimporter`` re-read its archive's central directory; a worker's
``sys.path`` holds ``pyspark.zip``, py4j, the Spark core jar and the
engine's own shipped zip, each behind several importers, which adds up to
about 0.25 s per call.  Python 3.13 made the refresh lazy (it only drops
the ``_zip_directory_cache`` entry), so there the stdlib is left alone.

The guard re-reads an archive only when its ``(st_dev, st_ino, st_size,
st_mtime_ns, st_ctime_ns)`` differs from the one taken before its last
read, or when the shared cache holds no entry read by the guard;
otherwise the importer keeps the shared cache entry.  A ``stat`` error
falls back to the stdlib body, so a deleted archive behaves as before.
A rewrite that keeps the inode, the size and both timestamps (same size,
within one filesystem timestamp tick) is not seen.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _signature(path: str) -> tuple[int, int, int, int, int]:
    st = os.stat(path)
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def install() -> bool:
    """Install the guard once; return whether it is (now) installed."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    eager = cls.invalidate_caches
    if hasattr(eager, "_eager"):  # already guarded
        return True
    cache = zipimport._zip_directory_cache
    # archive -> (stat signature taken before the read, directory read);
    # taking it before the read means a change during the read re-reads
    stamps: dict[str, tuple[tuple[int, int, int, int, int], dict]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            sig = _signature(archive)
        except (OSError, ValueError):
            stamps.pop(archive, None)
            return eager(self)
        stamp = stamps.get(archive)
        files = cache.get(archive)
        if (stamp is not None and files is not None
                and stamp[1] is files and stamp[0] == sig):
            self._files = files
            return None
        eager(self)
        files = cache.get(archive)
        if files is None:
            stamps.pop(archive, None)
        else:
            stamps[archive] = (sig, files)
        return None

    invalidate_caches.__doc__ = eager.__doc__
    invalidate_caches._eager = eager
    cls.invalidate_caches = invalidate_caches
    return True
