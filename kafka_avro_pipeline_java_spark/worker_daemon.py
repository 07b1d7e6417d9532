"""Spark's Python worker daemon, with zip importers that re-read an archive
only when it changed.

Every Python task runs ``importlib.invalidate_caches()`` (pyspark's
``setup_spark_files``). Before Python 3.13 that makes each
``zipimporter`` re-read its archive's whole central directory, and a
worker holds about 16 of them over ``pyspark.zip``, py4j and the Spark
jar: about 0.2 s of CPU per task. The gated version re-reads only when the
archive's (mtime, size) differs from the stamp of its last read, so a
newly added ``.zip`` or a rewritten one still takes effect. Workers fork
from this daemon and inherit the patch. ``session.get_spark`` selects it
through ``spark.python.daemon.module``.
"""

import os
import sys
import zipimport

if sys.version_info < (3, 13):  # 3.13 drops the cache entry instead
    _reread = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return _reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_read_stamp", None) != stamp:
            _reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
