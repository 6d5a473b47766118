"""Python worker daemon: ``pyspark.daemon`` with a zip importer that
re-reads an archive's directory only when the archive changed on disk.

PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()`` at
the start of every task.  Before Python 3.13 that makes every
``zipimporter`` re-read its archive's whole central directory right away;
a worker holds about 16 importers on ``pyspark.zip``, so a task that does
no work spent 0.2-0.3 CPU-s there (4 cores, Python 3.11.7, Spark 4.1.2).
Here an archive is read again only when its ``os.stat`` stamp (mtime_ns,
size, inode) differs from the one taken at its last read.  Python 3.13
re-reads lazily by itself, so there the daemon runs unchanged.

``session.get_spark`` points ``spark.python.daemon.module`` here.
"""

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps = {}  # archive path -> its os.stat stamp at the last directory read


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def main():
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # read each archive once here; forked workers inherit the stamps
        importlib.invalidate_caches()
    from pyspark.daemon import manager
    manager()


if __name__ == "__main__":
    main()
