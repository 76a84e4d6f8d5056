"""Structured Streaming tests for the T group: the windowed ops run as
REAL streams (availableNow, one file per microbatch) and must equal
their registered batch plans; the watermark op's late-drop set is
pinned exactly."""

from __future__ import annotations

import os
import uuid

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s3_avro_repair_spark.plans.registry import load_all
from s3_avro_repair_spark.streaming.stream_ops import (
    EVENTS_STREAM_SCHEMA,
    _TILE_SQL,
    ensure_stream_dirs,
)

_OPS = load_all()


def _stream_to_memory(df_writer, name):
    q = df_writer.queryName(name).format("memory").trigger(availableNow=True).start()
    q.awaitTermination()


def _sorted_records(pdf: pd.DataFrame):
    pdf = pdf[sorted(pdf.columns)]
    return sorted(map(tuple, pdf.astype(str).itertuples(index=False)))


@pytest.fixture(scope="module")
def stream_root(sf_dir):
    return ensure_stream_dirs(sf_dir)


def _read_stream(spark, path):
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_tumbling_stream_equals_batch(spark, sf_dir, stream_root):
    batch = _OPS["stream_tumbling"].fn(spark, sf_dir).toPandas()
    name = f"tt_{uuid.uuid4().hex[:8]}"
    streamed = (
        _read_stream(spark, os.path.join(stream_root, "state"))
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("start_epoch"),
            "event_type",
            "n",
        )
    )
    _stream_to_memory(streamed.writeStream.outputMode("complete"), name)
    got = spark.table(name).toPandas()
    assert _sorted_records(got) == _sorted_records(batch)


def test_sliding_stream_equals_batch(spark, sf_dir, stream_root):
    batch = _OPS["stream_sliding"].fn(spark, sf_dir).toPandas()
    name = f"ts_{uuid.uuid4().hex[:8]}"
    streamed = (
        _read_stream(spark, os.path.join(stream_root, "state"))
        .groupBy(F.window("ts", "1 day", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp(F.col("w.start")).alias("start_epoch"), "n")
    )
    _stream_to_memory(streamed.writeStream.outputMode("complete"), name)
    got = spark.table(name).toPandas()
    assert _sorted_records(got) == _sorted_records(batch)


def test_session_stream_equals_batch(spark, sf_dir, stream_root):
    batch = _OPS["stream_session"].fn(spark, sf_dir).toPandas()
    name = f"tn_{uuid.uuid4().hex[:8]}"
    streamed = (
        _read_stream(spark, os.path.join(stream_root, "state"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
        )
    )
    _stream_to_memory(streamed.writeStream.outputMode("complete"), name)
    got = spark.table(name).toPandas()
    assert _sorted_records(got) == _sorted_records(batch)


def test_watermark_closes_windows_exactly_once(spark, sf_dir):
    """Pins the measured Spark 4.1 watermark semantics the op's
    docstring claims: (a) append mode emits each day-window EXACTLY
    once, (b) only windows closed by the final watermark appear —
    the last open window is withheld, (c) late batch-3 rows are NOT
    dropped (state re-created; watermark is an eviction bound), so
    emitted counts equal the full per-day counts."""
    out = _OPS["stream_watermark_late"].fn(spark, sf_dir).toPandas()
    assert out.start_epoch.is_unique  # exactly-once emission per window
    con = duckdb.connect()
    con.execute(
        "CREATE TEMP TABLE t AS " + _TILE_SQL.format(src=f"{sf_dir}/events.parquet")
    )
    full = con.execute(
        """
        WITH gmax AS (SELECT epoch(MAX(ts)) - 3600 AS wm FROM t)
        SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS start_epoch,
               COUNT(*) AS n
        FROM t GROUP BY 1
        """
    ).fetchdf()
    wm = con.execute("SELECT epoch(MAX(ts)) - 3600 AS wm FROM t").fetchone()[0]
    closed = full[full.start_epoch + 86400 <= wm]
    withheld = full[full.start_epoch + 86400 > wm]
    assert len(withheld) >= 1  # the final open window really is held back
    assert _sorted_records(out) == _sorted_records(closed)


def test_streaming_dedup_leaves_no_duplicate_ids(spark, sf_dir, stream_root):
    """The dedup source re-delivers 50 event_ids; after
    dropDuplicatesWithinWatermark the id multiset must be a set."""
    name = f"td_{uuid.uuid4().hex[:8]}"
    deduped = (
        _read_stream(spark, os.path.join(stream_root, "dedup"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _stream_to_memory(deduped.writeStream.outputMode("append"), name)
    got = spark.table(name).toPandas()
    assert got.event_id.is_unique
    # and the source REALLY contained duplicates
    raw = pd.read_parquet(os.path.join(stream_root, "dedup", "f1.parquet"))
    assert not raw.event_id.is_unique
    # survivors = every distinct id in the source
    src0 = pd.read_parquet(os.path.join(stream_root, "dedup", "f0.parquet"))
    assert set(got.event_id) == set(src0.event_id) | set(raw.event_id)


def test_stream_stream_join_equals_batch(spark, sf_dir, stream_root):
    """REAL stream-stream join: two watermarked streams over the same
    microbatch files, time-range condition bounding the state, append
    output — must equal the registered batch interval join."""
    batch = _OPS["stream_join"].fn(spark, sf_dir).toPandas()
    path = os.path.join(stream_root, "state")
    err = (
        _read_stream(spark, path)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("u1"),
            F.col("ts").alias("ets"),
            F.col("event_id").alias("err_id"),
        )
        .withWatermark("ets", "1 hour")
    )
    clk = (
        _read_stream(spark, path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("u2"),
            F.col("ts").alias("cts"),
            F.col("event_id").alias("clk_id"),
        )
        .withWatermark("cts", "1 hour")
    )
    cond = (
        (F.col("u1") == F.col("u2"))
        & (F.col("cts") >= F.col("ets") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("cts") <= F.col("ets"))
    )
    name = f"sj_{uuid.uuid4().hex[:8]}"
    joined = err.join(clk, cond).select("err_id", "clk_id")
    _stream_to_memory(joined.writeStream.outputMode("append"), name)
    got = spark.table(name).toPandas()
    assert _sorted_records(got) == _sorted_records(batch)


def test_avro_ingest_stream_equals_batch(spark, sf_dir):
    """REAL streaming Avro ingest: the clean OCF fixture tree consumed
    through the binaryFile stream source one file per microbatch,
    decoded by the same codec mapInPandas lambda as the batch path,
    aggregated in complete mode — must equal the registered batch
    plan (which is itself hash-checked against the orders table)."""
    import pandas as pd

    from s3_avro_repair_spark.avro_codec import read_ocf
    from s3_avro_repair_spark.sources.avro_pipeline import (
        ORDERS_SPARK_SCHEMA,
        ensure_avro_fixtures,
    )

    batch = _OPS["stream_avro_ingest"].fn(spark, sf_dir).toPandas()
    root = os.path.join(ensure_avro_fixtures(sf_dir), "clean")
    cols = [c.split()[0] for c in ORDERS_SPARK_SCHEMA.split(",")]

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                _, recs = read_ocf(bytes(content))
                if recs:
                    out = pd.DataFrame(recs)
                    out.columns = cols
                    yield out
        yield pd.DataFrame({c: [] for c in cols})

    sdf = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("maxFilesPerTrigger", 1)
        .load(root)
        .select("content")
        .mapInPandas(decode, schema=ORDERS_SPARK_SCHEMA)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )
    name = f"avroing_{uuid.uuid4().hex[:8]}"
    _stream_to_memory(sdf.writeStream.outputMode("complete"), name)
    got = spark.table(name).toPandas()
    assert _sorted_records(got) == _sorted_records(batch)


def test_checkpoint_restart_exactly_once(spark, stream_root, tmp_path):
    """Checkpoint recovery — the operational guarantee a production
    stream actually runs on: a query stopped and restarted from its
    checkpoint must (a) restore the state store, so rows RE-DELIVERED
    after the restart that were first seen before it still dedup;
    (b) not reprocess files the pre-restart run already committed;
    (c) leave the file sink exactly-once via its commit log, so a
    third restart with no new input changes nothing.

    Three availableNow runs of ONE logical query (same checkpoint):
      run 1: f0 only                    -> baseline rows
      run 2: +replay (re-delivers 40 f0 rows) +f1 -> only f1's new
             ids may append; the 40 replayed ids are in RESTORED state
      run 3: no new files               -> sink byte-identical
    """
    import shutil

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    shutil.copy(os.path.join(stream_root, "f0.parquet"), src / "a.parquet")

    def run_once():
        q = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .dropDuplicates(["event_id"])
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink).toPandas()

    first = run_once()
    f0 = pd.read_parquet(os.path.join(stream_root, "f0.parquet"))
    assert _sorted_records(first) == _sorted_records(
        f0.drop_duplicates("event_id")
    )

    # Between runs: exact re-delivery of 40 already-seen rows plus the
    # genuinely new f1 file.
    f0.head(40).to_parquet(src / "replay.parquet", index=False)
    shutil.copy(os.path.join(stream_root, "f1.parquet"), src / "b.parquet")

    second = run_once()
    f1 = pd.read_parquet(os.path.join(stream_root, "f1.parquet"))
    expected = pd.concat([f0, f1]).drop_duplicates("event_id")
    assert _sorted_records(second) == _sorted_records(expected)

    third = run_once()
    assert _sorted_records(third) == _sorted_records(second)


def test_stream_avro_salvage_reads_no_file_content(spark, sf_dir, duck):
    """stream_avro_salvage selects only each file's path and length, so
    Spark never reads a file into a ``content`` value: with
    ``spark.sql.sources.binaryFile.maxLength`` below every fixture's
    size (a container over the 2 GiB default meets the same limit) the
    op still returns its oracle rows."""
    import glob

    from s3_avro_repair_spark.sources.avro_pipeline import ensure_avro_fixtures
    from tools.verify_local import compare

    corrupt = glob.glob(os.path.join(ensure_avro_fixtures(sf_dir), "corrupt", "*.avro"))
    limit = min(map(os.path.getsize, corrupt)) - 1
    op = _OPS["stream_avro_salvage"]
    spark.conf.set("spark.sql.sources.binaryFile.maxLength", str(limit))
    try:
        got = op.fn(spark, sf_dir).toPandas()
    finally:
        spark.conf.unset("spark.sql.sources.binaryFile.maxLength")
    problems = compare("stream_avro_salvage", got, duck.execute(op.oracle).fetchdf())
    assert not problems, problems
