"""Spark's Python-worker daemon, minus the per-task re-read of every zip.

Before each task PySpark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``), and CPython's ``zipimporter`` answers
that by re-reading its whole archive directory. A worker holds 16 such
importers into ``pyspark.zip``, py4j's zip and the spark-core jar: 0.15-0.4 s
per task with 4 concurrent tasks on a 4-core host. Here an archive is
re-read only when its ``(st_mtime_ns, st_size)`` changed since its last
read, so a rewritten archive is still seen. ``session.get_spark`` names
this module in ``spark.python.daemon.module``; run as ``__main__`` it
installs the wrapper and starts PySpark's daemon, whose forked workers
inherit it.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive path -> stat stamp of its last directory read


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:  # the directory already read at this stamp
        self._files = files


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp the archives the workers inherit
    manager()
