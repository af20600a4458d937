"""Python worker daemon for engine-built local sessions.

Spark starts this module instead of ``pyspark.daemon`` when
``spark.python.daemon.module`` names it (``session.get_session`` does so
for ``local*`` masters). It installs one import-system fix and then runs
the stock ``pyspark.daemon.manager()``; forked workers inherit the fix.

The fix: before every task, PySpark's ``worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. On CPython < 3.13 that makes
every ``zipimporter`` re-read its archive's central directory, and a warm
worker holds one importer per package prefix it imported from
(``pyspark.zip`` alone 12 on Spark 4.1), which cost 0.20-0.42 s per task
on a 4-core host. With the fix an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the one it had when its
cached directory was read, so a zip rewritten or replaced in place is
still re-read and a newly added archive still gets a fresh importer.
CPython 3.13 drops the cache lazily instead, so there the daemon is the
stock one.

The daemon's imports are preloaded into every forked worker, so this
module imports only the standard library and ``pyspark.daemon``. Running
it with ``-m`` also imports the package's ``__init__`` (``session`` and
``registry``), which adds no third-party module ``pyspark.daemon`` does not
already import.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stamp of the file when zipimport last read its directory
_READ_STAMPS: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    Returns False, changing nothing, on CPython >= 3.13."""
    if sys.version_info >= (3, 13):
        return False
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches

    def stamped_read_directory(archive):
        # stat BEFORE reading: a rewrite racing the read leaves an old
        # stamp behind, so the next invalidation reads the archive again
        stamp = _stamp(archive)
        files = read_directory(archive)
        if stamp is not None:
            _READ_STAMPS[archive] = stamp
        return files

    def invalidate_caches(self):
        cached = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if (
            cached is not None
            and stamp is not None
            and _READ_STAMPS.get(self.archive) == stamp
        ):
            # the shared cache entry was read from the file as it is now
            self._files = cached
            return
        invalidate(self)

    zipimport._read_directory = stamped_read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    if install():
        # Importers created before install() (the interpreter opens the
        # archives on its path at start-up) carry no stamp: read them
        # once here, before the fork, instead of once in every worker.
        importlib.invalidate_caches()
    daemon.manager()
