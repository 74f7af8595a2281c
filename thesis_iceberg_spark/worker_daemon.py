"""Python-worker daemon that re-reads a zip archive only when it changed.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py``).  On Python 3.11 that makes each
``zipimporter`` on the import path re-read its archive's whole central
directory, once per importer: ``pyspark.zip`` has one importer per package
prefix, so a task paid 0.11-0.23 s before running a row.  Here the re-read
happens only when the archive's ``(st_mtime_ns, st_size)`` differs from the
stat taken before its last read, so a replaced archive is still re-read.

``session.get_spark`` names this module in ``spark.python.daemon.module``;
Spark starts it as ``python -m thesis_iceberg_spark.worker_daemon`` and
every worker forks from it with the patch in place.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_stat: dict[str, tuple[int, int]] = {}  # archive -> stat before its last read


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches``, skipping an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_stat.pop(self.archive, None)
        _reread(self)
        return
    stat = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stat.get(self.archive) == stat:
        self._files = files
        return
    _reread(self)
    _read_stat[self.archive] = stat


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read every archive once here, so forked workers start with its stat
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
