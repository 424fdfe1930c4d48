"""Stat-checked zip importers for Spark Python workers.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
each ``zipimport.zipimporter`` answers by re-parsing the whole central
directory of its archive. A worker's ``sys.path`` holds pyspark.zip, the
py4j zip and the spark-core jar (about 6,700 entries), so every task paid
about 0.2 s before its first line of library code.

``install()`` turns each zip importer into a ``StatCheckedZipImporter``,
whose ``invalidate_caches`` re-reads the archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since the last read. A
replaced or newly added zip is still re-read. Stdlib only: the package
imports no pyspark outside a worker.
"""

import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


class StatCheckedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` that skips re-reading an unchanged archive."""

    _stamp = None  # unknown: the next invalidation re-reads

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
        self._stamp = stamp


def install():
    """Make every zip importer of this process stat-checked, once.

    Called right after a task's ``invalidate_caches()``, so each cached
    importer's directory is current and is stamped as read now. Archives
    added to ``sys.path`` later come in through the swapped path hook.
    """
    for imp in list(sys.path_importer_cache.values()):
        if type(imp) is zipimport.zipimporter:
            imp.__class__ = StatCheckedZipImporter
            imp._stamp = _stamp(imp.archive)
    sys.path_hooks[:] = [
        StatCheckedZipImporter if h is zipimport.zipimporter else h
        for h in sys.path_hooks
    ]
