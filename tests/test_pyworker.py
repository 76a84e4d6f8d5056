"""The engine's Python worker daemon (``_pydaemon``): Spark's own archives
keep their zip directories across tasks, and everything a task may rely
on still works (archives shipped later, plain UDFs)."""

from __future__ import annotations

import os
import zipfile

import pyarrow as pa
from pyspark.sql.functions import udf

from s3_avro_repair_spark import session


def _one_row(spark, fn):
    """Run ``fn()`` inside one Python task and return its string."""

    def task(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"s": [fn()]})

    return spark.range(0, 1, 1, 1).mapInArrow(task, "s string").collect()[0].s


def test_task_keeps_pyspark_zip_directory(spark):
    def probe():
        import importlib
        import sys
        import zipimport

        archive = sys.modules["pyspark"].__loader__.archive
        before = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        kept = zipimport._zip_directory_cache[archive] is before
        return f"{os.path.basename(sys.modules['__main__'].__file__)} {archive} {kept}"

    main, archive, kept = _one_row(spark, probe).split()
    assert archive.endswith("pyspark.zip")
    assert kept == "True"
    assert main == "_pydaemon.py"


def test_archive_added_after_start_is_importable(spark, tmp_path):
    """A zip shipped after the session started imports in the next task
    and keeps the stock re-read: a module written into it afterwards
    imports once ``importlib.invalidate_caches()`` has run."""
    name = f"graft_pyfile_{os.getpid()}_{tmp_path.name}".replace("-", "_")
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 'shipped later'\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe():
        import importlib

        shipped = importlib.import_module(name)
        with zipfile.ZipFile(shipped.__loader__.archive, "a") as z:
            z.writestr(f"{name}_later.py", "VALUE = 'written later'\n")
        importlib.invalidate_caches()
        return f"{shipped.VALUE}|{importlib.import_module(name + '_later').VALUE}"

    assert _one_row(spark, probe) == "shipped later|written later"


def test_plain_udf_runs_outside_the_package(spark):
    def plus_one(x):
        import sys

        return f"{x + 1} {sys.argv[1]}"

    rows = spark.range(3).select(udf(plus_one, "string")("id")).collect()
    assert [r[0] for r in rows] == [f"{i} pyspark.worker" for i in (1, 2, 3)]


def test_daemon_only_when_workers_import_the_package(monkeypatch, tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root + os.sep]))
    assert session._workers_import_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._workers_import_package()
