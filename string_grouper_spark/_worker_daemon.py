"""``pyspark.daemon`` whose forked workers re-read a zip archive's directory
only when it changed, not on every task as Spark's worker makes zipimporter
do before CPython 3.13.  Started by ``python -m``, so workers must find the
package at start.  Nothing may print: stdout carries the port to the JVM."""

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at = {}  # archive -> (st_mtime_ns, st_size) when this process read it


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _read_at.get(self.archive) != stamp:
        _reread(self)
        _read_at[self.archive] = stamp
    else:
        self._files = files


def cache_zip_directories():
    """Patch ``zipimporter`` and read each archive once, stamps recorded."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        importlib.invalidate_caches()


if __name__ == "__main__":
    import pyspark.daemon

    cache_zip_directories()
    pyspark.daemon.manager()
