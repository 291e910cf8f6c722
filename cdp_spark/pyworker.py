"""Python worker daemon: PySpark's ``pyspark.daemon`` with a cheaper
``importlib.invalidate_caches()``.

Every Python runner a task starts (``mapInPandas``, each pass of
``applyInPandasWithState``) calls ``importlib.invalidate_caches()`` in
``pyspark.worker_util.setup_spark_files``.  Before Python 3.12 that
makes every ``zipimporter`` re-read the whole central directory of its
archive (CPython gh-103200), and a worker holds one importer per package
it imported from ``pyspark.zip`` (~1300 entries): 16 directory reads and
0.13-0.22 s per runner on a 4-vCPU VM with Python 3.11.7.

``patch_zipimport`` makes an importer re-read its archive only when the
archive's ``(st_mtime_ns, st_size)`` changed since the last read, the
staleness rule ``FileFinder`` applies to directories; otherwise it
shares the ``zipimport._zip_directory_cache`` entry.  Run as a module
(``spark.python.daemon.module``, set by ``session.get_spark``) it
applies the patch and starts the stock daemon, so every forked worker
inherits it.  On Python 3.12+ it only starts the daemon.
"""

from __future__ import annotations

import os
import sys
import zipimport


def patch_zipimport() -> None:
    """Re-read a zip archive's directory only when the archive changed."""
    reread = zipimport.zipimporter.invalidate_caches
    # archive path -> (st_mtime_ns, st_size), stat'ed before its last read
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            reread(self)  # the stock method drops a missing archive
            return
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager

    if sys.version_info < (3, 12):
        import importlib

        patch_zipimport()
        # Stamp the archives the daemon imported from, so a forked
        # worker's first invalidate_caches() re-reads nothing.
        importlib.invalidate_caches()
    manager()
