"""Fixture table loaders (TESTDATA.md / FIXTURES.md).

The reference enumerates its input with ``listObjects({Bucket, Prefix})``
(``/root/reference/src/services/repair-avro.ts:37-40``) and then
downloads each object to a local staging dir. Spark replaces both with
a direct scan: the file listing is the scan driver, executors stream
bytes, and Hive-style ``key=value`` prefixes become partition columns
for free (partition discovery).

A schema-less ``spark.read.parquet`` infers the schema from the
footers, and that inference is one Spark job per load. ``table()``
remembers the ``StructType`` Spark inferred, keyed by the fixture's
file token (``fixture_token``: path, newest mtime, byte size) and the
session confs that change Parquet schema inference
(``_INFER_CONFS``); a later load of the same files under the same
confs passes it to ``spark.read.schema(...)`` and launches no job.
The remembered schema is Spark's own, so it is exact by construction,
partition columns of a directory table included. Nothing is
remembered for a path without a local token (missing, or remote such
as ``s3a://``): those loads infer every time. The first load of each
table in a process still infers.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Session confs whose values change the schema Spark infers from
# Parquet footers; each remembered schema is keyed by their values too.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# Inferred schema per (fixture token, inference confs), for the life
# of the process (the ``id_stride`` memo idiom).
_SCHEMAS: dict[tuple, StructType] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    The first load of a table in a process infers its schema (one
    Spark job) and remembers it under ``schema_key``; a later load of
    the same files under the same inference confs reads with that
    schema and launches no job. A rewritten table gets a new token, so
    it is inferred afresh; a path with no local token (missing or
    remote) is never remembered.

    ``events.ts`` has been generated two ways across driver rounds:
    parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects,
    so the session sets ``nanosAsLong`` and it arrives as a raw-nanos
    BIGINT) and plain TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ).
    Normalize both to a session-zone TIMESTAMP at microsecond
    resolution — exact, JVM-side, and identical to DuckDB's view of the
    same file under the UTC session zone ``tune_for_oracle`` pins.
    The ns->us integer division is lossless for the fixtures
    (TESTDATA.md seeds are ms-resolution).
    """
    path = f"{sf_dir}/{name}.parquet"
    key = schema_key(spark, sf_dir, name)
    schema = _SCHEMAS.get(key) if key else None
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key:
            _SCHEMAS[key] = df.schema
    if name == "events":
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":  # raw nanos via nanosAsLong
            return df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def schema_key(spark: SparkSession, sf_dir: str, name: str) -> tuple | None:
    """The key ``table()`` remembers a table's inferred schema under:
    its ``fixture_token`` and the values of ``_INFER_CONFS`` in this
    session. None when the token has no mtime (nothing is remembered)."""
    token = fixture_token(sf_dir, name)
    if not token[1]:
        return None
    return token + tuple(spark.conf.get(k) for k in _INFER_CONFS)


def span_stride(max_id: int | None, base: int, per: int) -> int:
    """``base * max(1, (max_id + 1) // per)``: the stride of a panel of
    the ids divisible by it. Below ``per`` ids of span it is ``base``
    (the historical flat stride of the dense fixture id spaces); past
    it the panel is capped, because the multiples of the stride in
    ``[0, max_id]`` number at most ``(2 * per - 1) // base + 1`` for
    ANY id distribution, sparse or stride-aligned spaces included: the
    bound is over the id span, not the row count."""
    return base * max(1, ((max_id or 0) + 1) // per)


# Stride per (fixture token, column, base, per), for the life of the
# process: one tiny max() job per fixture, however many ops consume
# the panel. Keyed on the file token, not the bare sf_dir, so a fixture
# regenerated in place with a different id span gets a new stride.
_STRIDES: dict[tuple, int] = {}


def id_stride(
    spark: SparkSession, sf_dir: str, name: str, col: str, base: int, per: int
) -> int:
    """``span_stride`` of table ``name``'s ``max(col)``, computed
    eagerly (one column-scan job, near-metadata under Parquet min/max
    statistics) and remembered per ``fixture_token``. Callers fold it
    into their plans as a literal: a literal keeps the op's plan the
    flat-stride one, where a lazily joined 1-row stride frame perturbed
    broadcast-size estimates and added shuffles."""
    key = (fixture_token(sf_dir, name), col, base, per)
    stride = _STRIDES.get(key)
    if stride is None:
        max_id = table(spark, sf_dir, name).agg(F.max(col).alias("m")).first()["m"]
        stride = _STRIDES[key] = span_stride(max_id, base, per)
    return stride


def fixture_token(sf_dir: str, name: str) -> tuple[str, int, int]:
    """(path, mtime_ns, size) identity of one fixture table — the cache
    key for anything memoized per fixture (remembered schemas,
    panel/bench strides). A stride keyed on the PATH alone goes stale if
    a fixture at the same path is regenerated with a different id span
    mid-process: Spark would keep the old stride while the DuckDB
    oracle recomputes from data (ADVICE r7). ``{name}.parquet`` may be a
    file or a directory of parts; for a directory the newest mtime
    across the WHOLE tree is the token (os.walk, not a top-level
    scandir: a partitioned layout rewritten in place only touches files
    inside existing part_col=X/ subdirectories, which does not move
    top-level entry mtimes — ADVICE r8), so any rewrite rotates the
    key. The byte size (summed over a directory's files) is part of the
    key too: on a filesystem with coarse mtimes, a rewrite inside one
    clock tick keeps the mtime, and a re-typed rewrite almost never
    keeps the size. Missing path -> mtime and size 0 (the consumer will
    fail on read anyway)."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(p)
        mt, size = st.st_mtime_ns, 0
        if stat.S_ISDIR(st.st_mode):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        st = os.stat(os.path.join(root, f))
                    except OSError:
                        continue
                    mt = max(mt, st.st_mtime_ns)
                    size += st.st_size
        else:
            size = st.st_size
    except OSError:
        mt = size = 0
    return (p, mt, size)
