"""Python worker daemon for the engine's pandas/Arrow UDF tasks.

Spark forks every Python worker from one daemon process, started as
``python -m <spark.python.daemon.module>``; ``get_spark`` points that conf
here. Before handing over to ``pyspark.daemon.manager`` this module removes
a per-task import cost of CPython < 3.13: every task's
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and there each cached zipimporter
re-parses the whole central directory of its archive — ``pyspark.zip``,
the py4j zip, the spark-core jar and the shipped package zip, a dozen or
more importers per worker. CPython 3.13 made that invalidation lazy; the
backport below keeps its shared-cache behaviour and re-reads an archive
only when its ``(st_mtime_ns, st_size)`` changed since the last read.
Workers forked after ``install`` inherit the patch.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}  # archive -> stat at its last read


def _invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed since
    it was last read; otherwise reuse the shared cache entry."""
    try:  # stat before the read: a write after it re-reads next time
        st = os.stat(self.archive)
        stamp = st.st_mtime_ns, st.st_size
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)  # drops the cache entry if the archive is gone or unreadable
    if stamp is not None:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (no-op on CPython >= 3.13)
    and read each archive already imported from once, so forked workers
    start with every stamp in place."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # install the function of the module imported under its package name,
    # not of this __main__ copy, so that workers can identify it
    from pyspark.daemon import manager

    from real_time_sliding_window_spark.worker_daemon import install as _install

    _install()
    manager()
