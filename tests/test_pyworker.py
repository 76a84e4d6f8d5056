"""The engine's Python worker daemon (``_pydaemon``): Spark's own archives
keep their zip directories across tasks and across DataSource planner
calls, and everything a task may rely on still works (archives shipped
later, plain UDFs)."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile

import pyarrow as pa
import pyspark
from pyspark.sql.functions import udf

from s3_avro_repair_spark import _pydaemon, session
from s3_avro_repair_spark.sources.avro_datasource import AvroOCFDataSource

_PYSPARK_ZIP = os.path.join(os.path.dirname(pyspark.__file__), "python", "lib", "pyspark.zip")


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


def _planner_columns(spark, name, probe, **options):
    """Run ``probe(options)`` inside a ``create_data_source`` planner call
    and return the column names of the DDL it returns. The probe rides
    in ``schema()`` of a local subclass of ``AvroOCFDataSource``: the
    subclass is pickled by value and its base makes the planner worker
    import ``avro_datasource``."""

    class Probe(AvroOCFDataSource):
        @classmethod
        def name(cls):
            return name

        def schema(self):
            return ", ".join(f"`{c}` int" for c in probe(self.options))

    spark.dataSource.register(Probe)
    return spark.read.format(name).options(**options).load().columns


def test_planner_worker_keeps_pyspark_zip_directory(spark):
    def probe(options):
        import importlib
        import sys
        import zipimport

        archive = sys.modules["pyspark"].__loader__.archive
        before = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        kept = zipimport._zip_directory_cache[archive] is before
        return [sys.modules["__main__"].__spec__.name, archive, "kept" if kept else "re-read"]

    name = f"graft_planner_probe_{os.getpid()}"
    _planner_columns(spark, name, probe)
    main, archive, kept = _planner_columns(spark, name, probe)
    assert main == "pyspark.daemon"
    assert archive.endswith("pyspark.zip")
    assert kept == "kept"


def test_archive_added_after_start_is_importable_in_planner(spark, tmp_path):
    """A zip shipped with ``addPyFile`` imports inside a planner call, and
    a module written into it afterwards imports once
    ``importlib.invalidate_caches()`` has run, on a worker's first planner
    call and on a later one. The probe puts the shipped bytes back: in
    local mode the planner reads the very file the executor fetches
    later, and the executor refuses a fetched file whose contents
    changed."""
    name = f"graft_planner_pyfile_{os.getpid()}_{tmp_path.name}".replace("-", "_")
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 'shipped_later'\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(options):
        import importlib

        shipped = importlib.import_module(name)
        later = f"{name}_later{options['call']}"
        with open(shipped.__loader__.archive, "rb") as f:
            original = f.read()
        try:
            with zipfile.ZipFile(shipped.__loader__.archive, "a") as z:
                z.writestr(f"{later}.py", f"VALUE = 'written_later{options['call']}'\n")
            importlib.invalidate_caches()
            return [shipped.VALUE, importlib.import_module(later).VALUE]
        finally:
            with open(shipped.__loader__.archive, "wb") as f:
                f.write(original)

    for call in (1, 2):
        cols = _planner_columns(spark, f"{name}_source", probe, call=call)
        assert cols == ["shipped_later", f"written_later{call}"]


def test_driver_import_installs_no_hook():
    """Importing ``avro_datasource`` in a driver (here one whose startup
    path holds ``pyspark.zip``) leaves the import system as it was."""
    code = """
import sys
import pyspark
hooks = list(sys.path_hooks)
cached = dict(sys.path_importer_cache)
import s3_avro_repair_spark.sources.avro_datasource
assert sys.path_hooks == hooks, sys.path_hooks
assert all(sys.path_importer_cache.get(k) is v for k, v in cached.items())
assert any(k.startswith(sys.argv[1]) for k in cached), sorted(cached)
print("unchanged")
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([_PYSPARK_ZIP, root]))
    out = subprocess.run(
        [sys.executable, "-c", code, _PYSPARK_ZIP], env=env, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["unchanged"]


def test_startup_archives_come_from_pythonpath(monkeypatch, tmp_path):
    """Only the files the daemon's process was started with keep their
    directory; an archive already on ``sys.path`` when the module is
    imported (a planner worker's ``addPyFile`` archives) does not."""
    startup, shipped = tmp_path / "startup.zip", tmp_path / "shipped.zip"
    for archive in (startup, shipped):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("empty.py", "")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(startup), str(tmp_path)]))
    monkeypatch.syspath_prepend(str(shipped))
    spec = importlib.util.spec_from_file_location("_pydaemon_copy", _pydaemon.__file__)
    copy = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(copy)
    assert copy._STARTUP_ARCHIVES == {str(startup)}
