"""Python-worker daemon: ``pyspark.daemon`` minus the per-task zip re-read.

Under a ``local`` master, ``session.build_session`` names this module in
``spark.python.daemon.module`` and puts the package's import root on the
workers' path, so Spark forks every Python worker from it.

Why: before each task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that ``.py`` files shipped with
``addPyFile`` become importable. On Python 3.10-3.12 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory. A worker holds about 16 of them on
``pyspark.zip`` (1,328 entries), one per package directory it imported
from, so each Python task paid about 0.2 CPU-s before running any UDF
code (4-core x86 host, Spark 4.1.2, CPython 3.11.7). Python 3.13 only
drops the cache entry, so there the stdlib method is kept.

The replacement re-reads an archive only when its ``(st_mtime_ns,
st_size)`` differs from the one stat-ed before its last read in this
process; otherwise the importer takes the directory read at that stat.
Path finders are invalidated as before, so newly shipped ``.py`` files
and rewritten archives are still seen.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> ((st_mtime_ns, st_size) stat-ed before the read, directory)
_last_read: dict = {}


def invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    """``zipimporter.invalidate_caches`` minus the re-read of an archive
    whose stat is unchanged since its last read."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    seen = _last_read.get(self.archive)
    if key is not None and seen is not None and seen[0] == key:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _reread(self)
    _last_read[self.archive] = (key, self._files)


if __name__ == "__main__":
    import importlib

    import pyspark.daemon

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # read each archive once here, so forked workers inherit the stats
        importlib.invalidate_caches()
    pyspark.daemon.manager()
