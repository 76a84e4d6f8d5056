"""Fixed cost of a Python task on the engine's session, layer by layer.

Starts ``session.get_session`` on ``--cores`` local cores and, after one
warm-up each, times two jobs ``--repeats`` times:

- ``python``: ``spark.range(cores)`` in ``cores`` partitions through a
  pass-through ``mapInArrow``, one Python task per core;
- ``jvm``: the same range collected without Python.

Prints each job's median wall and their difference, which is the fixed
cost of a round of Python tasks. Then prints the median seconds one
worker spends in ``importlib.invalidate_caches()``, which Spark's worker
calls at the start of every task (``pyspark/worker_util.py``,
``setup_spark_files``), timed inside ``cores`` concurrent tasks.

Then two lines for the DataSource planner, whose workers Spark starts
under its stock ``pyspark.daemon`` and reuses across calls:

- the median wall of ``spark.read.format(mount(spark)).load(path)`` over
  one small container, which is one ``create_data_source`` call;
- the median seconds ``importlib.invalidate_caches()`` takes inside such
  a call, timed in ``schema()`` of a subclass of ``AvroOCFDataSource``
  (the subclass makes the planner worker import ``avro_datasource``).

Usage: python tools/python_task_overhead.py [--cores N] [--repeats 20]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _pass_through(batches):
    yield from batches


def _time_invalidate(batches):
    import importlib

    import pyarrow as pa

    for _ in batches:
        pass
    t = time.perf_counter()
    importlib.invalidate_caches()
    yield pa.RecordBatch.from_pydict({"s": [time.perf_counter() - t]})


def _planner_invalidate_source():
    from s3_avro_repair_spark.sources.avro_datasource import AvroOCFDataSource

    class TimeInvalidate(AvroOCFDataSource):
        @classmethod
        def name(cls):
            return "graft_time_invalidate"

        def schema(self):
            import importlib

            t = time.perf_counter()
            importlib.invalidate_caches()
            return f"`{time.perf_counter() - t!r}` double"

    return TimeInvalidate


def median_wall(job, repeats: int) -> float:
    job()
    walls = []
    for _ in range(repeats):
        t = time.perf_counter()
        job()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--repeats", type=int, default=20)
    args = ap.parse_args(argv)
    # Python workers import the package from this checkout, wherever
    # the tool is started from.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    from s3_avro_repair_spark.session import get_session

    spark = get_session("python-task-overhead", master=f"local[{args.cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    ids = spark.range(0, args.cores, 1, args.cores)
    python_s = median_wall(ids.mapInArrow(_pass_through, ids.schema).collect, args.repeats)
    jvm_s = median_wall(ids.collect, args.repeats)
    timing = ids.mapInArrow(_time_invalidate, "s double")
    invalidate = [row.s for _ in range(args.repeats) for row in timing.collect()]

    from s3_avro_repair_spark.avro_codec import write_ocf
    from s3_avro_repair_spark.sources.avro_datasource import mount

    schema = {"type": "record", "name": "r", "fields": [{"name": "id", "type": "long"}]}
    with tempfile.TemporaryDirectory() as tmp:
        container = os.path.join(tmp, "one.avro")
        with open(container, "wb") as f:
            write_ocf(f, schema, [{"id": 1}])
        fmt = mount(spark)
        load_s = median_wall(lambda: spark.read.format(fmt).load(container), args.repeats)
    spark.dataSource.register(_planner_invalidate_source())
    planner_invalidate = [
        float(spark.read.format("graft_time_invalidate").load().columns[0])
        for _ in range(args.repeats + 1)
    ][1:]

    daemon = spark.sparkContext.getConf().get("spark.python.daemon.module", "pyspark.daemon")
    print(f"cores {args.cores}, repeats {args.repeats}, daemon {daemon}")
    print(f"python job median     {python_s:.3f} s")
    print(f"jvm job median        {jvm_s:.3f} s")
    print(f"python task overhead  {python_s - jvm_s:.3f} s")
    print(f"invalidate_caches     {statistics.median(invalidate):.5f} s per task")
    print(f"avro_ocf load median  {load_s:.3f} s per create_data_source call")
    print(f"planner invalidate    {statistics.median(planner_invalidate):.5f} s per planner call")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
