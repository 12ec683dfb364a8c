"""Python worker daemon for the engine's sessions.

Spark forks every Python worker from one daemon process, named by
``spark.python.daemon.module``; :func:`session.get_spark` names this
module. It removes one fixed per-task cost of CPython before 3.13,
then hands over to the stock ``pyspark.daemon.manager()``.

At the start of every task ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. Before 3.13 every
``zipimport.zipimporter`` answers that by re-reading its archive's
whole directory. A worker holds 16 of them (12 over ``pyspark.zip``,
2 over the py4j zip, 2 over the spark-core jar Spark puts on the
worker's ``sys.path``), and one call cost 77-83 ms of CPU on a
4-vCPU host: about 90 % of the run time of a one-row pandas task.
:func:`invalidate_caches` re-reads an archive only when its file
changed since this process last read it. Workers fork from the
daemon, so each inherits the patch and the directories.

Importing this module patches nothing; only :func:`install` does,
and only running the module as the daemon calls it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_mtime_ns, st_size) of the file when this
#: process last read its directory into ``zipimport``'s cache.
_read_stats: dict[str, tuple[int, int]] = {}


def _file_stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory
    re-read while the archive file is unchanged. A changed, missing
    or unreadable archive goes to the stock method."""
    stat = _file_stat(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (
        stat is not None
        and files is not None
        and _read_stats.get(self.archive) == stat
    ):
        self._files = files
        return
    # Stat before the read: a write racing the read leaves a stat that
    # differs from the file's next one, so the next call re-reads.
    _stock_invalidate_caches(self)
    if stat is not None and self.archive in zipimport._zip_directory_cache:
        _read_stats[self.archive] = stat
    else:
        _read_stats.pop(self.archive, None)


def record_cached_archives() -> None:
    """Record the file stat of every archive already in ``zipimport``'s
    directory cache, as read now."""
    for archive in list(zipimport._zip_directory_cache):
        stat = _file_stat(archive)
        if stat is not None:
            _read_stats[archive] = stat


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` process-wide.
    A no-op from Python 3.13, whose method only drops the cache."""
    if sys.version_info >= (3, 13):
        return
    record_cached_archives()
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # Patch through the copy imported under the package name, so the
    # method reports this module, not ``__main__``.
    from database_join_spark import pyworker
    from pyspark import daemon

    pyworker.install()
    daemon.manager()
