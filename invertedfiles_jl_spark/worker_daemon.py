"""Spark's Python worker daemon with lazy zip-importer invalidation.

Every Python task calls ``importlib.invalidate_caches()`` before it reads a
row.  On CPython 3.10-3.12 that makes each ``zipimporter`` re-read its
archive's central directory in pure Python, and Spark always puts
``pyspark.zip``, the py4j zip and the spark-core jar on the worker path:
0.1-0.2 s of CPU per task.  Run as ``spark.python.daemon.module``, this
module lets an importer re-read only when its archive's ``(st_mtime_ns,
st_size)`` moved, then runs ``pyspark.daemon.manager()``.  Importing it
patches nothing.
"""

import os
import sys
import zipimport


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def lazy_invalidate(invalidate):
    """Wrap ``zipimporter.invalidate_caches``: call ``invalidate`` only when
    the archive's stamp differs from the one this importer last read at (an
    unstamped importer or a missing archive always re-reads)."""
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_stamp", None):
            invalidate(self)
            self._stamp = stamp
    return invalidate_caches


def stamp_importers(importers):
    """Stamp every zipimporter in ``importers`` with its archive as it is now."""
    for imp in importers:
        if isinstance(imp, zipimport.zipimporter):
            imp._stamp = _stamp(imp.archive)


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = lazy_invalidate(
        zipimport.zipimporter.invalidate_caches)
    # the daemon's importers read their archives moments ago; forked
    # workers inherit them, so a worker's first task skips the re-read too
    stamp_importers(sys.path_importer_cache.values())
    manager()
