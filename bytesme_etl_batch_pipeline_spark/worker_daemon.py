"""Python worker daemon: ``pyspark.daemon`` without per-task zip re-reads.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. On Python 3.11 that re-reads the zip
directory of every archive importer in ``sys.path_importer_cache``:
``pyspark.zip``, ``py4j-*-src.zip`` and the spark-core jar (5k+ entries),
once per package imported from them — about 0.2 s per task on 4 cores.
Those archives are Spark's own install and do not change while the daemon
lives, so their importers here skip the re-read. Archives a task adds later
(``addPyFile``, SparkFiles) are not in that set and are re-read as before;
directory finders are untouched.

Spark starts it as ``python -m <this module> <worker module>`` when
``spark.python.daemon.module`` names it (``session.get_spark``).
"""

import os
import runpy
import sys
import zipimport

#: archives on ``sys.path`` when the daemon starts
STARTUP_ARCHIVES = frozenset(p for p in sys.path if os.path.isfile(p))


class StartupZipImporter(zipimport.zipimporter):
    """``zipimporter`` whose ``invalidate_caches`` is a no-op for a
    start-up archive and the standard re-read for any other."""

    def invalidate_caches(self):
        if self.archive not in STARTUP_ARCHIVES:
            super().invalidate_caches()


def install() -> None:
    """Swap the zip path hook and drop the importers already cached for
    start-up archives, so the next lookup builds a ``StartupZipImporter``."""
    sys.path_hooks[:] = [
        StartupZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in STARTUP_ARCHIVES:
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    install()
    # sys.argv[1] (the worker module) is kept; runpy only replaces argv[0]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
