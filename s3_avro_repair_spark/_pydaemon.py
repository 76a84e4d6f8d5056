"""Spark's Python worker daemon, minus the per-task re-read of Spark's
own zip archives.

At the start of every Python task, Spark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``), so that archives shipped later with
``addPyFile`` become importable. Since Python 3.10 that call makes every
``zipimporter`` re-read its archive's whole central directory. A worker
holds about 16 of them, over ``pyspark.zip``, the ``py4j`` zip and the
15 MB spark-core jar that Spark puts on the worker path: about 0.15 s
per task, more when several workers do it at once.

The archives the JVM starts a daemon with (its ``PYTHONPATH``) are
Spark's own and do not change while the application runs, so
:func:`keep_startup_archives` makes their importers keep the directory
they read. An archive that joins the path later (``addPyFile``) keeps
the stock re-read. Forked workers inherit the hook.

It has two callers:

- this module's main. ``session.get_session`` sets it as
  ``spark.python.daemon.module``; Spark runs it as
  ``python -m s3_avro_repair_spark._pydaemon <worker module>``, and
  ``pyspark.daemon`` reads the worker module from ``sys.argv``;
- ``sources/avro_datasource.py``, on import in a worker of Spark's stock
  ``pyspark.daemon``. Spark starts the Python DataSource planner workers
  under that daemon whatever the conf says, and reuses each worker
  across planner calls, so every call after the first that imports the
  module skips the re-read.
"""

import os
import sys
import zipimport

_STARTUP_ARCHIVES = frozenset(
    os.path.abspath(p)
    for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if p and os.path.isfile(p)
)


class _StartupArchiveImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        if self.archive not in _STARTUP_ARCHIVES:
            super().invalidate_caches()


def keep_startup_archives() -> None:
    """Put the keeping importer first on ``sys.path_hooks`` and drop the
    stock importers already cached for the startup archives and their
    sub-paths (``…/pyspark.zip/pyspark/sql``), so the next lookup makes
    keeping ones. Doing it again changes nothing."""
    if _StartupArchiveImporter in sys.path_hooks:
        return
    sys.path_hooks.insert(0, _StartupArchiveImporter)
    for path in list(sys.path_importer_cache):
        if any(path == a or path.startswith(a + os.sep) for a in _STARTUP_ARCHIVES):
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    keep_startup_archives()

    from pyspark.daemon import manager

    manager()
