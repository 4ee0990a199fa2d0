"""Python worker daemon for sessions built by ``session.get_spark``.

Spark forks its Python workers from one daemon process, and before every
task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython before 3.12 that makes each
``zipimport.zipimporter`` re-read the whole central directory of its
archive. A worker holds about 16 importers over ``pyspark.zip`` (1,328
entries), so every task paid ~120 ms of CPU re-reading a file that never
changes. This daemon makes ``invalidate_caches`` re-read an archive only
when its ``(st_mtime_ns, st_size)`` differs from when it was last read,
then runs the stock ``pyspark.daemon.manager()``. A rewritten archive is
still picked up by the next ``invalidate_caches()``. From 3.12 on,
``invalidate_caches`` only drops the cached directory and the next import
re-reads it once, so the stock behaviour is kept there.

Spark starts it as ``python -m geoparquet_python_spark._daemon`` when the
static conf ``spark.python.daemon.module`` names it, which ``get_spark``
sets. Sessions built elsewhere keep the stock ``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_stamps: dict[str, tuple[int, int]] = {}
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only if the archive changed since it was last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)  # stat first: a write racing the read re-reads next time
    if stamp is not None:
        _read_stamps[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # Read each archive once here, so forked workers start with its stamp.
        importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
