"""PySpark worker daemon that skips re-reading unchanged zip archives.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and every ``zipimporter`` on
``sys.path`` then re-reads its archive's whole central directory.  A worker
holds about a dozen of them (one per package directory imported from
``pyspark.zip``, two over the ``spark-core`` jar), so each task paid ~0.2
core-s before running any engine code.

This module is the ``spark.python.daemon.module`` that ``session.get_spark``
sets.  It replaces ``zipimporter.invalidate_caches`` with one that re-reads
an archive only when its ``(st_mtime_ns, st_size, st_ino)`` differs from
that importer's last read, then runs ``pyspark.daemon`` unchanged; the
workers it forks inherit the patch.  Every other finder still invalidates,
so files added with ``addPyFile`` keep working, and a rewritten archive is
re-read on the next task.
"""

from __future__ import annotations

import os
import runpy
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    # stat before reading: a write between the two leaves a stale key, which
    # costs one extra read next time, never a stale directory
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is not None and key == getattr(self, "_xapian_spark_read_key", None):
        return
    _stock_invalidate_caches(self)
    self._xapian_spark_read_key = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
