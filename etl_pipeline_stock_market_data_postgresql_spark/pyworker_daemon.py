"""Python worker daemon: ``pyspark.daemon`` whose workers keep their
zip directories.

Every task a Python worker runs starts with
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory, and ``pyspark.zip`` alone has one importer per
imported subpackage: about 16 reads, 0.2 s of worker CPU, on every task
of every PythonRDD frame, pandas UDF and Python DataSource read.

This daemon is ``pyspark.daemon.manager()`` with one rule changed: a
zipimporter re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` stamp differs from the one taken before its
last read. The stamps are primed once in the daemon, before it forks a
worker, so every worker starts with the directories read. A rewritten
archive still gets a new stamp and is re-read; a zip added by
``SparkContext.addPyFile`` is a new path, which its new importer reads
as before. ``session.get_spark`` selects this module through
``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> stamp taken before its directory was last read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        # another importer of the same archive may have re-read it
        self._files = files
        return
    _reread(self)  # a failed read drops the archive's cached directory
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    # pyspark.daemon picks the worker module from sys.argv[1] on import
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # primes one stamp per loaded archive
    daemon.manager()
