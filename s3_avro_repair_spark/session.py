"""SparkSession factory tuned for the fixture scale and the 100 TB posture.

The reference validates AWS env credentials up front and then mutates a
global AWS client (``/root/reference/src/app.ts:6-7``,
``src/services/repair-avro.ts:23-28``). Our analog is a session builder:
S3A credentials come from the Hadoop credential chain, and every knob
that matters at cluster scale (AQE, adaptive skew joins, Arrow) is on by
default.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "s3-avro-repair-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local test default: ``local[N]`` with a small shuffle-partition
    count (fixture scale). On a real cluster: leave ``master`` unset,
    raise ``shuffle_partitions`` (or rely on AQE coalescing, which is
    enabled here and makes the static number mostly a ceiling).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime re-planning — coalesces shuffle partitions,
        # switches to broadcast joins and splits skewed partitions at
        # runtime. Essential at 100 TB, harmless at fixture scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow for every Python boundary (pandas_udf / mapInPandas /
        # toPandas) — replaces the reference's Node->JVM subprocess
        # boundary (repair-avro.ts:130-131) with zero-copy batches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Deterministic timestamp semantics for the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS), which the vectorized
        # reader rejects; read raw nanos (tables.py truncates to µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if _workers_import_package():
        # Python workers keep Spark's zip directories across tasks
        # (``_pydaemon``): about 0.15 s less per Python task.
        builder = builder.config("spark.python.daemon.module", "s3_avro_repair_spark._pydaemon")
    return builder.getOrCreate()


def _workers_import_package() -> bool:
    """Whether a local Python worker can import this package before
    any task runs: Spark starts its daemon from the driver's working
    directory, with the driver's ``PYTHONPATH`` and the interpreter's
    site-packages. Otherwise the daemon module could not even start, so
    Spark's stock daemon is kept."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entries = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
    ]
    return any(entry and os.path.abspath(entry) == root for entry in entries)


def spread_partitions(df, min_factor: float = 1.0):
    """Spread a SMALL scanned relation across the cluster before
    CPU-heavy downstream work (pair generation, per-row vector math).

    The fixture parquet files are a single row-group, so the scan
    yields 1-2 partitions and everything after it runs on one core.
    Production scans of the same relation yield thousands of splits —
    there the repartition would be a pure extra shuffle of the corpus
    (SCALING.md: post-scan repartitions are strictly wrong at 100 TB).
    So: derive the target from the cluster (defaultParallelism — total
    executor cores, never a literal) and SKIP the exchange entirely
    when the plan already carries at least that many partitions.
    getNumPartitions() inspects the physical plan without running a
    job; cost is one plan conversion on the driver."""
    spark = df.sparkSession
    target = int(spark.sparkContext.defaultParallelism * min_factor)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime-settable knobs applied by the registry wrapper around
    EVERY registered query (``plans/registry.py::register``), so results
    stay deterministic when the driver supplies its own SparkSession.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Keys some ops override op-locally (join_runtime_filter lowers the
    # bloom threshold to demo runtime filtering at fixture scale):
    # re-assert the Spark defaults here so an override can never leak
    # into the next op's plan.
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "10GB",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    return spark
