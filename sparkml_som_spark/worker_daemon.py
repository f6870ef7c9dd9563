"""Spark's Python worker daemon, with stat-gated zip directory reads.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so every
Python worker of an engine session is forked from it.  Each task calls
``importlib.invalidate_caches()`` (pyspark's ``setup_spark_files``), and
before Python 3.13 that re-reads the central directory of every zip
archive a worker imports from: pyspark.zip, py4j's zip and the
spark-core jar, 107-231 ms per task on a 4-core host (SCALE.md).  Here a
zip archive is re-read only when its stat stamp (mtime, size, inode)
differs from its stamp at its last read.
"""

import sys
import zipimport

from sparkml_som_spark.stamp import stat_stamp

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int]] = {}  # archive -> its stamp at its last read


def invalidate_caches(self):
    try:
        stamp = stat_stamp(self.archive)
    except OSError:
        return _stdlib_invalidate(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files  # another importer of this archive may have re-read it
    else:
        _stdlib_invalidate(self)
        _stamps[self.archive] = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    if sys.version_info < (3, 13):  # 3.13's invalidate_caches only drops the cache entry
        # the archives this process has imported from were read at its start
        for _path in list(zipimport._zip_directory_cache):
            try:
                _stamps[_path] = stat_stamp(_path)
            except OSError:
                pass
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    manager()
