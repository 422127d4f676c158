"""PySpark's Python worker daemon with a stat guard on zip-archive
cache invalidation; ``get_session`` makes it the session default
(``spark.python.daemon.module``).

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Under Python 3.11 each
cached ``zipimporter`` answers it by re-reading its archive's whole
directory: pyspark.zip, the py4j zip and the spark-core jar that Spark
puts on the worker path, 16 importers in all, 0.10-0.19 s per task on a
4-core host even in a reused worker.  The guard re-reads an archive
only when its ``(st_mtime_ns, st_size)`` differs from the stat taken at
its last read.  A changed archive is still re-read, and a zip newly
shipped with ``addPyFile`` gets a fresh importer, which reads it.

Run as ``python -m rex_spark._pyworker``: it seeds the stats of the
archives the daemon has already read (so forked workers skip the
re-read from their first task on), installs the guard and runs
``pyspark.daemon.manager()``.  Importing the module installs nothing.
"""

from __future__ import annotations

import os
import zipimport


def _stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guard(original, stats: dict):
    """``zipimporter.invalidate_caches`` that calls ``original`` only
    when the archive's stat differs from ``stats[archive]``, the stat
    taken before its last read."""

    def invalidate_caches(self):
        stat = _stat(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)  # noqa: SLF001
        if stat is not None and files is not None and stats.get(self.archive) == stat:
            self._files = files  # noqa: SLF001
            return
        stats[self.archive] = stat
        original(self)

    return invalidate_caches


def install() -> None:
    """Seed the stats of every archive already read and guard
    ``zipimporter.invalidate_caches`` (process-wide)."""
    stats = {a: _stat(a) for a in zipimport._zip_directory_cache}  # noqa: SLF001
    zipimport.zipimporter.invalidate_caches = guard(
        zipimport.zipimporter.invalidate_caches, stats
    )


def main() -> None:
    from pyspark import daemon

    install()
    daemon.manager()


if __name__ == "__main__":
    main()
