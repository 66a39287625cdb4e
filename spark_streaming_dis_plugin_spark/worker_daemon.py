"""Spark's Python worker daemon, minus the per-task zip-directory re-reads.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before Python 3.13 that
makes every ``zipimporter`` on ``sys.path_importer_cache`` re-read its
whole archive directory: about 27k entries once a worker has run a
DataFrame task (pyspark.zip once per imported subpackage, plus the
spark-core jar), 250-280 ms of every Python task on a 4-vCPU host. :func:`install` makes a zipimporter re-read its archive only
when the archive's (inode, size, mtime) changed since this process last
read it; a changed archive is re-read exactly as before.

Run as ``spark.python.daemon.module`` (``session.get_spark`` sets it): the
daemon installs the guard, reads each archive once, and every worker it
forks inherits both.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns) at this process's last read
_read_at: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> None:
    """Guard ``zipimporter.invalidate_caches``; a no-op on Python >= 3.13,
    whose zipimporter already defers the re-read to the next lookup."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and _read_at.get(self.archive) == stamp:
            # unchanged since the last read, which may have been another
            # importer's over the same archive: take that directory
            self._files = zipimport._zip_directory_cache.get(self.archive, self._files)
            return
        reread(self)
        if stamp is not None:
            _read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon

    install()
    importlib.invalidate_caches()
    daemon.manager()
