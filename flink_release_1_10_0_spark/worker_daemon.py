"""Python-worker daemon: ``pyspark.daemon`` with a stat-guarded zip cache.

``session.get_spark`` names this module in ``spark.python.daemon.module``,
so Spark starts it (``python -m flink_release_1_10_0_spark.worker_daemon``)
instead of ``pyspark.daemon``; it installs the guard and hands over to
``pyspark.daemon.manager``, which forks every worker from this process.

Why: PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task.  On CPython < 3.12 that makes every ``zipimporter`` on the
worker's path re-read its whole archive's directory, one importer per
package prefix: 16 of them over ``pyspark.zip``, the py4j zip and the
spark-core jar, 0.27 s per task on CPython 3.11.  The guard re-reads an
archive only when its mtime, size or inode changed since it was last
read, so the call costs 0.14 ms, and an archive that really changed is
still re-read.  CPython 3.12 made ``zipimporter.invalidate_caches`` lazy,
so there the guard is not installed.
"""

from __future__ import annotations

import os
import sys
import zipimport

_unguarded = zipimport.zipimporter.invalidate_caches
# archive path -> (mtime_ns, size, inode) as stat'ed just before its last read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def guarded_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    Importers of one archive share its directory through
    ``zipimport._zip_directory_cache``; an importer that skips the read
    picks up the directory another importer re-read after a change.
    """
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _unguarded(self)
    if stamp is not None:
        _read_stamps[self.archive] = stamp


def install() -> bool:
    """Guard ``zipimporter.invalidate_caches``; False where CPython's own
    is already lazy (3.12+)."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon
    # read every archive imported so far once, recording its stamp, so
    # that the forked workers start with every archive known
    importlib.invalidate_caches()
    daemon.manager()
