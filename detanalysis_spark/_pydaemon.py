"""Python worker daemon: tasks re-read a zip only when it has changed.

Each Python task runs ``importlib.invalidate_caches()``; before 3.13
that re-reads every zip on the worker path (``pyspark.zip``, py4j, the
Spark jar: ~27k entries, ~0.2 s CPU). Here a zip is re-read only when
its ``(st_ino, st_size, st_mtime_ns)`` changed since its last read or
its ``stat`` fails, the rule ``FileFinder`` applies to directories.
"""

import importlib
import os
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
_read_at = {}  # archive -> stat stamp taken just before its last read


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = st.st_ino, st.st_size, st.st_mtime_ns
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or cached is None or _read_at.get(self.archive) != stamp:
        _stock(self)
        _read_at[self.archive] = stamp
    else:  # importers of one unchanged archive share its last read
        self._files = cached


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # one read per archive, before the forks
    manager()
