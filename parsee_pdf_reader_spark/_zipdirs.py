"""Keep zip archive directories across ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``setup_spark_files`` in ``pyspark/worker_util.py``). Before Python 3.13,
``zipimporter.invalidate_caches()`` re-reads the archive's whole central
directory, once for every zipimporter in ``sys.path_importer_cache``. A
worker holds one importer per imported sub-package of ``pyspark.zip``, the
py4j zip and the ``spark-core`` jar on its ``sys.path``, so each task paid
about 0.2-0.4 s before its map function ran.

:func:`install` wraps the method so that an importer re-reads its archive
only when the archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the
stamp taken at the last read. All importers of one archive share the stamp;
a changed or missing archive reloads exactly as before. Python 3.13 made
the method lazy, so nothing is installed there.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (st_ino, st_size, st_mtime_ns) taken before its last read
_stamps: dict = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install():
    """Wrap ``zipimporter.invalidate_caches``; a second call is a no-op."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(original, "_keeps_zip_dirs",
                                              False):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and _stamps.get(self.archive) == stamp):
            self._files = files
            return
        original(self)
        _stamps[self.archive] = stamp

    invalidate_caches._keeps_zip_dirs = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
