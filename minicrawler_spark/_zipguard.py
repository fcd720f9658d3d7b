"""Skip a zip import path's directory re-read while its archive is unchanged.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``). Before
Python 3.13 that makes every cached ``zipimporter`` re-read its
archive's whole central directory: a worker caches about 16 of them
(pyspark.zip, the py4j zip, the spark-core jar), about 0.2 s of CPU per
task. The guard re-reads only when the archive's (mtime, size) differs
from the one this importer last read, or cannot be stat'ed, so an
``addPyFile`` zip that changes is still picked up.
``importlib.invalidate_caches`` itself is left as it is: it also
refreshes the directory caches of plain path entries. Python 3.13 only
drops the cache there, so the guard is not installed.

Importing ``minicrawler_spark`` installs it, so a worker has it from the
first task that unpickles one of the package's functions. That task's
``setup_spark_files`` has just re-read every archive, so stamping the
importers already cached with their current key is exact. (Elsewhere, an
archive rewritten between its importer's last read and this import is
picked up only once it changes again.)
"""

import os
import sys
import zipimport


def _key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install():
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        key = _key(self.archive)
        if key is None or key != getattr(self, "_zipguard_key", None):
            reread(self)
            self._zipguard_key = key

    cls.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            importer._zipguard_key = _key(importer.archive)


install()
