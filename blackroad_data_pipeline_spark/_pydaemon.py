"""PySpark worker daemon with stat-gated zip-archive cache invalidation.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython each
``zipimporter`` answers it by re-reading its archive's whole central
directory: pyspark.zip and the spark-core jar, about 27k entries per
task. Run as the daemon (``spark.python.daemon.module``, set by
``session.get_spark``), this module re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` changed since that importer last
read it, so a rewritten or replaced archive is still picked up.
Importing it has no side effect.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_stat_key", None):
        _reread(self)
        self._stat_key = key


if __name__ == "__main__":
    # install the named module's function, not __main__'s copy, so the
    # patched method reports the package module it came from
    from blackroad_data_pipeline_spark import _pydaemon
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _pydaemon.invalidate_caches
    daemon.manager()
