"""Re-read a zip archive's directory only when the archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py``, ``setup_spark_files``). On
CPython 3.11 that makes every ``zipimporter`` on ``sys.path`` re-parse
its whole archive directory: ``pyspark.zip``, the ``spark-core`` jar
and py4j, about 27k entries per task in a reused worker. This module
wraps ``zipimporter.invalidate_caches`` so an importer re-reads only
when ``os.stat`` of its archive fails or its ``(st_mtime_ns, st_size)``
differs from the stamp taken at its last re-read. An importer's first
invalidation still re-reads, since nothing says when its directory was
read before.

Importing ``ocr_engine_spark`` installs it, so every worker that
unpickles one of the package's functions gets it. It is applied only on
Python < 3.12, which reworked zipimport invalidation; the >= 3.12 path
(leave the stock method alone) has not been verified against a 3.12
interpreter.
"""

import os
import sys
import zipimport

# the stock method, also when this module is executed a second time
_stock = getattr(zipimport.zipimporter.invalidate_caches, "stock",
                 zipimport.zipimporter.invalidate_caches)


def invalidate_caches(self):
    """Re-read the archive directory if the archive changed since the
    last re-read (or cannot be stat'ed)."""
    try:
        st = os.stat(self.archive)
        stamp = st.st_mtime_ns, st.st_size
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_dir_stamp", None):
        _stock(self)
        self._dir_stamp = stamp


invalidate_caches.stock = _stock

if sys.version_info < (3, 12):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
