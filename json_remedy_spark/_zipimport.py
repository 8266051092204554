"""Stat-guarded ``zipimporter.invalidate_caches`` (CPython < 3.13).

PySpark's worker calls ``importlib.invalidate_caches()`` once per task,
and before 3.13 each cached zipimporter (~16 into pyspark.zip) then
re-reads its archive's whole central directory: tens of ms per task.
The guard skips the re-read while the archive's (mtime, size, inode)
matches the importer's last read."""

import os
import sys
import zipimport


def _stat(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install():
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "_stat_guarded"):
        return

    def invalidate_caches(self):
        snap = _stat(self.archive)
        if snap is None or snap != getattr(self, "_archive_stat", None):
            original(self)
            self._archive_stat = snap

    invalidate_caches._stat_guarded = True
    cls.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._archive_stat = _stat(imp.archive)
