"""Python worker daemon that re-reads import archives only when ``sys.path`` changed.

``pyspark.worker_util.setup_spark_files`` ends every task with
``importlib.invalidate_caches()``, which makes each zipimporter re-read its
archive's directory (``pyspark.zip`` has 1,328 entries). Started by Spark as
``python -m`` (``spark.python.daemon.module``), this daemon gives
``worker_util`` an ``importlib`` that flushes every cache only when ``sys.path``
differs from its value at the process's last flush, and otherwise invalidates
only the directory finders: an archive on ``sys.path`` never changes (a
``.zip`` ``addPyFile`` adds a path), a directory can gain a ``.py`` file.
Workers fork from the daemon and inherit the shim.
"""

import importlib
import importlib.machinery
import sys


class PathKeyedImportlib:
    """``importlib`` as ``pyspark.worker_util`` sees it; ``flushes`` counts full flushes."""

    def __init__(self):
        self.flushes = 0
        self._flushed_path = None

    def __getattr__(self, name):
        return getattr(importlib, name)

    def invalidate_caches(self):
        if sys.path != self._flushed_path:
            importlib.invalidate_caches()
            self._flushed_path = list(sys.path)
            self.flushes += 1
            return
        for finder in sys.path_importer_cache.values():
            if isinstance(finder, importlib.machinery.FileFinder):
                finder.invalidate_caches()


if __name__ == "__main__":
    import pyspark.worker_util
    from pyspark.daemon import manager

    pyspark.worker_util.importlib = PathKeyedImportlib()
    manager()
