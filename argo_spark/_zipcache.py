"""Stat-guarded ``zipimporter.invalidate_caches`` for CPython < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` on every task,
and before 3.13 each zipimporter then re-reads its archive's whole
directory (pyspark.zip has one importer per subpackage): 0.1–0.3 s a
task. The guard re-reads an archive only when its ``os.stat``
``(st_mtime_ns, st_size)`` changed or ``stat`` failed, so a re-shipped
``--py-files`` zip is still re-read. ``import argo_spark`` installs it.
"""

import os
import sys
import zipimport


def _install() -> None:
    read = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(read, "__wrapped__"):
        return
    stamps: dict[str, tuple[int, int]] = {}  # archive -> key at its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and cached is not None and stamps.get(self.archive) == key:
            self._files = cached  # another importer of this archive re-read it
            return
        read(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = key

    invalidate_caches.__wrapped__ = read
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install()
