"""The Python worker daemon: ``pyspark.daemon`` with zip directories read
once.

Every Python task calls ``importlib.invalidate_caches()`` (pyspark's
worker setup, after it puts the task's files on ``sys.path``). On Python
3.12 and older that makes every cached ``zipimporter`` re-read its
archive's central directory: one importer per package directory of
``pyspark.zip`` plus those of the spark-core jar, ~0.27 s per task,
however small the task. This module runs ``pyspark.daemon.manager()``
after replacing ``zipimporter.invalidate_caches`` with one that re-reads
an archive only when its (inode, size, mtime) changed since the last
read, the stamp being taken before the read. Python 3.13's importer
defers the re-read instead; either way an unchanged archive is not
re-read. An archive added at run time gets a new importer, which reads
it when created.

``session.session_conf`` names this module as ``spark.python.daemon.module``;
run as ``python -m odbc2parquet_spark.worker_daemon`` it primes the stamps
of every archive already imported from, so forked workers inherit them.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (st_ino, st_size, st_mtime_ns) taken before its last read
_READ_AT: dict[str, tuple[int, int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since its last read; otherwise the importer adopts
    the archive's cached directory (another importer of it may have
    re-read it)."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or cached is None or _READ_AT.get(self.archive) != stamp:
        _READ_AT[self.archive] = stamp
        _reread(self)
    else:
        self._files = cached


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and read every archive a
    cached importer serves once, stamped."""
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
