"""Python worker daemon for ``session.get_spark`` sessions.

Spark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every Python task. On CPython
< 3.12 that makes every zip importer on ``sys.path`` re-read its whole
archive directory: ``pyspark.zip``, py4j and the spark-core jar, about
0.2 s of CPU per task. Here a zip importer re-reads only when its
archive's ``(st_mtime_ns, st_size, st_ino)`` changed, once per change,
so a file shipped with ``addPyFile`` is still picked up. CPython 3.12
stopped the eager re-read, so nothing is patched there. The module
then runs ``pyspark.daemon.manager()``; forked workers inherit the
patch.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


_stamps = {path: _stamp(path) for path in zipimport._zip_directory_cache}


def invalidate_caches(self):
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or stamp is None or stamp != _stamps.get(self.archive):
        _stamps[self.archive] = stamp
        _reread(self)
    else:
        self._files = files


if sys.version_info < (3, 12):
    zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
