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

The archives on the path this daemon starts with are Spark's own and do
not change while the application runs, so their importers keep the
directory they read. An archive that joins the path later (``addPyFile``)
keeps the stock re-read. Forked workers inherit the hook.
``session.get_session`` sets this module as ``spark.python.daemon.module``;
Spark runs it as ``python -m s3_avro_repair_spark._pydaemon <worker module>``,
and ``pyspark.daemon`` reads the worker module from ``sys.argv``.
"""

import os
import sys
import zipimport

_STARTUP_ARCHIVES = frozenset(p for p in sys.path if os.path.isfile(p))


class _StartupArchiveImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        if self.archive not in _STARTUP_ARCHIVES:
            super().invalidate_caches()


if __name__ == "__main__":
    sys.path_hooks.insert(0, _StartupArchiveImporter)
    # Interpreter start-up already cached stock importers for these
    # archives while it searched the path for its first imports.
    for archive in _STARTUP_ARCHIVES:
        sys.path_importer_cache.pop(archive, None)

    from pyspark.daemon import manager

    manager()
