"""Python worker daemon: ``pyspark.daemon`` with a stat-keyed zip cache.

Spark starts it as ``python -m cep_spark._pydaemon`` (the
``spark.python.daemon.module`` default set by ``session.get_spark``).

Every Python task begins in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  Workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip``, and CPython's
``zipimporter.invalidate_caches`` re-reads the archive's central
directory eagerly, once per zipimporter in ``sys.path_importer_cache``
(one per pyspark sub-package, 16 of them).  That re-read is most of the
~0.3 s fixed cost of a task on a reused worker.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` changed since it was last
read, and otherwise re-points the importer at the directory already
parsed in ``zipimport._zip_directory_cache``.  A new or rewritten
``--py-files`` archive is still re-read.

This module must stay light to import: the daemon forks its workers,
and NumPy, pandas or PyArrow loaded before the fork would be shared by
every worker.  It imports nothing from the engine, and ``pyspark.daemon``
only inside ``main``.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _make_invalidate(original):
    cache = zipimport._zip_directory_cache
    stamps = {}  # archive path -> its stat key when its directory was last read

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = cache.get(self.archive)
        if key is not None and files is not None and stamps.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: an archive rewritten in between keeps the
        # old key and is read again next time
        original(self)
        if key is not None:
            stamps[self.archive] = key

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def install() -> bool:
    """Patch ``zipimport.zipimporter.invalidate_caches``; returns whether
    the stat-keyed version is in place.  Idempotent.  Keeps the original
    method when the zipimport internal it relies on is absent."""
    if installed():
        return True
    if not hasattr(zipimport, "_zip_directory_cache"):
        return False
    cls = zipimport.zipimporter
    cls.invalidate_caches = _make_invalidate(cls.invalidate_caches)
    return True


def installed() -> bool:
    """Whether this process runs the stat-keyed method."""
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def main() -> None:
    install()
    # reads the worker module Spark passes in sys.argv at import time
    import pyspark.daemon

    # read each archive once here, so forked workers inherit the stamps
    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
