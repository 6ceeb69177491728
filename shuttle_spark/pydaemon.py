"""Python-worker daemon for engine sessions (``spark.python.daemon.module``).

Spark forks every Python worker from one daemon process per executor and
hands each task to a (reused) worker.  At the start of every task PySpark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
so that files shipped by ``addPyFile`` become importable.  On CPython 3.10
and 3.11 that call makes every ``zipimporter`` on the path re-read its whole
archive directory in pure Python, and a worker's path reaches two large
archives through about 16 importers: the spark-core jar (5,359 entries),
which Spark puts on the worker path, and ``pyspark.zip`` (1,328 entries).
That is 0.17 s of CPU per task, 0.25-0.35 s when four workers run at once,
more than a small pandas UDF task spends on its rows.

This module installs a stat-validated ``zipimporter.invalidate_caches``
and then runs PySpark's own daemon loop unchanged.  An archive is re-read
only when its ``(st_mtime_ns, st_size)`` differs from the stat taken before
its last read, so a rewritten archive is still picked up, and an archive
added later (``addPyFile``) is new and is read on first use.  The daemon
reads each archive once before it forks, so forked workers inherit both the
patch and a warm directory cache.  CPython 3.12+ invalidates zip
directories lazily, and before 3.10 importers had no ``invalidate_caches``;
there the patch is not installed.

Run as ``python -m shuttle_spark.pydaemon``; ``session.get_session``
registers it and puts the package root on the workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _archive_stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Replace ``zipimporter.invalidate_caches`` with the stat-validated
    form; returns whether the patch is active (idempotent)."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or not hasattr(cls, "invalidate_caches"):
        return False
    reread = cls.invalidate_caches
    if getattr(reread, "_stat_validated", False):
        return True
    # archive path -> (st_mtime_ns, st_size) taken just before its last read
    read_stat: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        archive = self.archive
        stat = _archive_stat(archive)
        cached = zipimport._zip_directory_cache.get(archive)
        if stat is not None and cached is not None and read_stat.get(archive) == stat:
            self._files = cached
            return
        reread(self)
        if stat is not None and archive in zipimport._zip_directory_cache:
            read_stat[archive] = stat
        else:
            read_stat.pop(archive, None)

    invalidate_caches._stat_validated = True  # type: ignore[attr-defined]
    cls.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    if install():
        importlib.invalidate_caches()  # read each archive once, before forking
    from pyspark.daemon import manager

    manager()
