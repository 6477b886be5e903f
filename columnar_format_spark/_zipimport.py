"""Re-read a zip importer's archive only when the archive changed.

Before CPython 3.13, ``zipimporter.invalidate_caches`` re-parses the whole
archive directory on every ``importlib.invalidate_caches()``. PySpark's
workers call that once per task and per planner call
(``pyspark.worker_util.setup_spark_files``), and a warm worker holds about
16 importers over ``pyspark.zip``, the spark-core jar and py4j: some 27k
directory entries parsed per Spark->Python round trip. The replacement
keeps the stdlib contract: it re-reads when the archive's stat stamp
differs from the one this importer last read under, or when stat fails.
CPython 3.13 made the invalidation lazy itself, so it is left alone there.
"""

import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _reread = zipimport.zipimporter.invalidate_caches

    def _invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stamp", None):
            # Stat before reading: a change racing the read re-reads again.
            _reread(self)
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
