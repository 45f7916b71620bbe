import os
import sys


def _archive_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stat_guard_zip_invalidation():
    """Make a Spark Python worker re-read a zip archive's directory only
    when the archive changed on disk.

    Every Python task starts with pyspark.worker_util.setup_spark_files,
    which ends in importlib.invalidate_caches() so that files and paths
    added by addFile/addPyFile become importable. On CPython 3.11.7 and
    3.12.1, zipimport.zipimporter.invalidate_caches re-reads the whole
    central directory of its archive (zipimport.py: `self._files =
    _read_directory(self.archive)`), and a worker that imports pyspark from
    $SPARK_HOME/python/lib/pyspark.zip holds about 16 such importers (one
    per imported package directory). That costs ~100-150 ms per task on a
    4-core host, more than the kernels of the headline queries. CPython
    3.13.0's invalidate_caches only drops the cached directory, so there
    the guard is not installed.

    The wrapped method calls the original only when the archive's
    (st_mtime_ns, st_size) differs from the key recorded when the importer
    last read it, so a rewritten archive is still re-read. New sys.path
    entries get new importers through the path hooks, and FileFinder
    invalidation is untouched. The importers already cached were refreshed
    by this task's setup just before the engine was unpickled, so their
    keys are seeded now. Does nothing outside a worker (no pyspark.worker
    module loaded, as on the driver) and is idempotent."""
    if "pyspark.worker" not in sys.modules or sys.version_info >= (3, 13):
        return
    import zipimport
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "stat_guarded", False):
        return

    def invalidate_caches(self):
        key = _archive_key(self.archive)
        if key is None or key != getattr(self, "_stat_key", None):
            reread(self)
            self._stat_key = key

    invalidate_caches.stat_guarded = True
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            importer._stat_key = _archive_key(importer.archive)
    cls.invalidate_caches = invalidate_caches


_stat_guard_zip_invalidation()
