"""Python worker daemon for this engine's Spark sessions.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task. Where zipimport re-reads eagerly (CPython 3.12 and older), that
re-reads the central directory of every zipimporter on the worker path:
pyspark.zip, the py4j zip and the spark-core jar, 16 reads per task.
This daemon re-reads an archive only when its (mtime, size) changed
since that importer last read it, then runs pyspark's own daemon;
forked workers inherit the change. Started through
``spark.python.daemon.module``.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """zipimporter.invalidate_caches, skipped while the archive's
    (mtime, size) is the one this importer last read at."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if not hasattr(zipimport.zipimporter, "_get_files"):  # reads eagerly
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
