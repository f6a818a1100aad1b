"""PySpark daemon entry point (``spark.python.daemon.module``).

``session.get_spark`` points Spark at this module instead of
``pyspark.daemon``. It runs ``pyspark.daemon.manager()`` unchanged after
one stdlib patch that the forked Python workers inherit: on CPython
< 3.13 ``zipimporter.invalidate_caches()`` re-parses the archive's whole
central directory in pure Python, and PySpark's worker calls
``importlib.invalidate_caches()`` on every task, with about 16
zipimporters (pyspark.zip and its subpackages, py4j, the Spark jar)
alive. The
patched method keeps the cached file table while the archive's
(mtime_ns, size, inode) equals its stamp at the last read, and re-reads
it otherwise. CPython 3.13 reads the directory lazily; there nothing is
patched.
"""

import importlib
import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def stat_checked(original):
    """Wrap ``zipimporter.invalidate_caches``: skip the re-read of an
    archive whose stat stamp is unchanged since its last read."""
    stamps = {}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and stamps.get(self.archive) == stamp):
            self._files = files
            return
        # stamp taken before the read: a change during it re-reads next time
        original(self)
        stamps[self.archive] = stamp

    return invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stat_checked(
            zipimport.zipimporter.invalidate_caches)
        # read each archive once here, so forked workers start stamped
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
