"""PySpark daemon entry that keeps zip import directories across tasks.

Every Python task starts with ``worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython 3.11 that makes
every zipimporter in ``sys.path_importer_cache`` re-parse its
archive's central directory in pure Python: ~16 importers over
``pyspark.zip``, the py4j zip and the spark-core jar, ~0.25 CPU-s per
task against a ~2 ms UDF body. Here an archive is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` changed since the last read, so a
rewritten archive is still noticed. ``session.get_spark`` points
``spark.python.daemon.module`` at this module; workers fork from the
daemon, so every Python task inherits the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if _stamps.get(self.archive) == stamp and files is not None:
        self._files = files  # another importer of this archive read it
        return None
    # stamp before reading: a write racing the read changes the stamp
    _stamps[self.archive] = stamp
    return _reread(self)


def install() -> None:
    """Patch zipimporter and read each live archive once, so forked
    workers start with every current archive already stamped."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
