"""T group — Structured Streaming over the ``events`` fixture.

Two tiers, per SURVEY §7 Phase 5:

- **Windowed aggregations** (tumbling / sliding / session): registered
  as their BATCH-equivalent DataFrame plans — the ``window()`` /
  ``session_window()`` expressions are identical in both execution
  modes, the driver's oracle is batch SQL, and
  ``tests/test_streaming.py`` re-runs each as a real ``readStream``
  with ``availableNow`` and asserts it equals the batch result.

- **Genuinely stateful ops** (watermark late-drop, streaming dedup,
  applyInPandasWithState): registered queries RUN REAL STREAMS — the
  events fixture is split into per-microbatch parquet files (the split
  computed by DuckDB NTILE so the oracle can name the exact same row
  sets), processed with ``maxFilesPerTrigger=1`` + ``availableNow``
  into a memory sink. All three still carry exact SQL oracles: dedup
  counts and per-user state totals are arrival-order-invariant, and the
  watermark op's deterministic observable (append-mode window closing)
  is encoded directly in its oracle.

Scale posture: state stores are per-key (user_id / event_id hash
partitions), watermarks bound state size, and every windowed agg does
partial aggregation per microbatch before the state shuffle.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.registry import register
from ..tables import table

EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

# The NTILE(10) split (ORDER BY ts, event_id) that defines microbatches:
#   f0 = tiles 1-7 (oldest 70%)  -> batch 1
#   f1 = tile 10   (newest 10%)  -> batch 2 (advances the watermark)
#   f2 = tiles 8-9 (now LATE)    -> batch 3 (behind the watermark)
_TILE_SQL = (
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
    "value, props, NTILE(10) OVER (ORDER BY ts, event_id) AS tile "
    "FROM read_parquet('{src}')"
)


def ensure_stream_dirs(sf_dir: str) -> str:
    """Build (once, cached) the microbatch file layouts:

    - ``state/`` f0,f1,f2 — every event exactly once
    - ``wm/``    f0,f1,f2 — same files; batch order makes f2 late
    - ``dedup/`` f0,f1d   — f1d carries 50 duplicated tile-10 rows

    Written via DuckDB so the registered oracles can reproduce the
    exact row sets with the same NTILE semantics. File mtimes are
    staggered because the file stream source orders by mtime.
    """
    import duckdb

    # the E module registers ops: import it here, not at module load,
    # so the registry keeps its module order
    from ..sources.avro_pipeline import _cached_tree

    def build(tmp: str) -> None:
        con = duckdb.connect()
        # A table is one file at fixture scale and a DIRECTORY of parts
        # at production scale — glob when the path is a dir so the
        # microbatch builder is layout-agnostic (multi-file sweep).
        src = f"{sf_dir}/events.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute("CREATE TEMP TABLE t AS " + _TILE_SQL.format(src=src))
        # Contract required by stream_dedup's oracle: event_type must be
        # functionally dependent on event_id. dropDuplicatesWithinWatermark
        # keeps ONE arrival-order-dependent row per event_id; the oracle
        # COUNT(DISTINCT event_id) GROUP BY event_type only matches when
        # every copy of an id carries the same type. A fixture generation
        # that ever shipped same-id-different-type rows would make the op
        # nondeterministic — fail the build here, not the hash check.
        fd_violations = con.execute(
            "SELECT COUNT(*) FROM ("
            "  SELECT event_id FROM t GROUP BY event_id"
            "  HAVING COUNT(DISTINCT COALESCE(event_type, chr(0))) > 1)"
        ).fetchone()[0]
        if fd_violations:
            raise ValueError(
                f"stream fixture contract broken: {fd_violations} event_ids "
                "carry more than one event_type (dedup would be "
                "arrival-order-dependent)"
            )
        cols = "event_id, ts, user_id, event_type, value, props"
        parts = {
            "f0.parquet": f"SELECT {cols} FROM t WHERE tile <= 7",
            "f1.parquet": f"SELECT {cols} FROM t WHERE tile = 10",
            "f1d.parquet": (
                f"SELECT {cols} FROM t WHERE tile = 10 "
                f"UNION ALL SELECT {cols} FROM "
                "(SELECT * FROM t WHERE tile = 10 ORDER BY event_id LIMIT 50)"
            ),
            "f2.parquet": f"SELECT {cols} FROM t WHERE tile IN (8, 9)",
        }
        for fname, sql in parts.items():
            con.execute(
                f"COPY ({sql}) TO '{os.path.join(tmp, fname)}' (FORMAT PARQUET)"
            )
        layouts = {
            "state": [("f0.parquet", "f0"), ("f1.parquet", "f1"), ("f2.parquet", "f2")],
            "wm": [("f0.parquet", "f0"), ("f1.parquet", "f1"), ("f2.parquet", "f2")],
            "dedup": [("f0.parquet", "f0"), ("f1d.parquet", "f1")],
        }
        base_mtime = 1_700_000_000
        for sub, files in layouts.items():
            d = os.path.join(tmp, sub)
            os.makedirs(d)
            for i, (src, dst) in enumerate(files):
                p = os.path.join(d, f"{dst}.parquet")
                shutil.copy(os.path.join(tmp, src), p)
                os.utime(p, (base_mtime + i * 60, base_mtime + i * 60))

    return _cached_tree(sf_dir, "stream_v2", ("events",), build)


def _run_stream(sdf_writer_builder, name: str) -> None:
    q = sdf_writer_builder.queryName(name).format("memory").trigger(
        availableNow=True
    ).start()
    q.awaitTermination()


def _read_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# windowed aggregations (batch-equivalent plans; streamed in tests)
# ---------------------------------------------------------------------------


@register(
    "stream_tumbling",
    group="T",
    oracle="""
    SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS start_epoch,
           event_type, COUNT(*) AS n
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling windows per event type. The identical
    ``window()`` expression runs streaming (tests/test_streaming.py);
    in both modes Spark partial-aggregates within the microbatch/task
    before shuffling window keys."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("start_epoch"),
            "event_type",
            "n",
        )
    )


@register(
    "stream_sliding",
    group="T",
    oracle="""
    WITH s AS (SELECT CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT) AS a
               FROM events WHERE ts IS NOT NULL)
    SELECT a - k.k * 21600 AS start_epoch, COUNT(*) AS n
    FROM s, (VALUES (0), (1), (2), (3)) k(k)
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day windows sliding every 6h: each event lands in exactly 4
    windows (epoch-aligned, same arithmetic the oracle spells out)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp(F.col("w.start")).alias("start_epoch"), "n")
    )


@register(
    "stream_session",
    group="T",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp
      FROM o
    )
    SELECT user_id,
           CAST(floor(epoch_us(MIN(ts)) / 1000.0) AS BIGINT)
             AS session_start_ms,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id, grp
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 30-minute gap. The batch oracle
    is the classic gap-islands rewrite (lag + running sum of breaks) —
    semantically identical to ``session_window`` merging.

    The oracle derives milliseconds as ``floor(epoch_us/1000)``, not
    ``epoch_ms``: Spark's ``unix_millis`` FLOORS micros toward
    -infinity while DuckDB's ``epoch_ms`` truncates toward zero — the
    two agree on every post-1970 timestamp and differ by exactly 1ms
    on pre-epoch ones with sub-millisecond parts (caught by the
    calendar-edge sweep's 1964 arm)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# genuinely stateful streams (real readStream in the registered op)
# ---------------------------------------------------------------------------


_WM_ORACLE = """
    WITH w AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT)
                 AS start_epoch, COUNT(*) AS n
               FROM events
               WHERE CAST(epoch(date_trunc('day', ts)) AS BIGINT)
                     + 86400 > 0
               GROUP BY 1),
    g AS (SELECT epoch(MAX(ts)) - 3600 AS wm FROM events)
    SELECT start_epoch, n FROM w, g WHERE start_epoch + 86400 <= wm
"""


@register("stream_watermark_late", group="T", oracle=_WM_ORACLE)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, FOR REAL, across three microbatches
    (oldest 70% -> newest 10% -> middle 20%, the last batch arriving
    behind the watermark).

    Measured engine behavior (Spark 4.1, pinned by
    tests/test_streaming.py): the watermark is a STATE-EVICTION bound,
    not a guaranteed input filter — the spec only promises late data
    "may" be dropped, and here late rows re-create evicted window
    state, so they still count. The deterministic, oracle-checkable
    observable is append-mode window CLOSING: every window is emitted
    exactly once, only after the watermark (max event time - 1h)
    passes its end — so the final still-open day window is withheld
    from the sink. The oracle encodes exactly that: all day-windows
    except those the final watermark hasn't closed. The layout
    guarantees single emission: no late file touches a window that an
    earlier batch's watermark already closed.

    One more measured boundary (calendar-edge sweep): Spark's INITIAL
    watermark is epoch 0, so PRE-1970 event times are late before the
    first row arrives — every window ending at or before 1970-01-01
    is silently dropped. The oracle's ``start_epoch + 86400 > 0``
    guard mirrors that engine floor (a no-op on in-range fixtures);
    archive backfills with pre-epoch event times must be batch jobs,
    not watermarked streams."""
    root = ensure_stream_dirs(sf_dir)
    name = f"wm_{uuid.uuid4().hex[:8]}"
    counts = (
        _read_stream(spark, os.path.join(root, "wm"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp(F.col("w.start")).alias("start_epoch"), "n")
    )
    _run_stream(counts.writeStream.outputMode("append"), name)
    return spark.table(name)


_DEDUP_ORACLE = """
    WITH t AS (SELECT event_id, event_type, ts,
                      NTILE(10) OVER (ORDER BY ts, event_id) AS tile
               FROM events)
    SELECT event_type, COUNT(DISTINCT event_id) AS n
    FROM t WHERE (tile <= 7 OR tile = 10)
      AND (ts IS NULL OR epoch(ts) >= 0)  -- pre-epoch dropped (initial
      -- watermark 0); NULL event-times pass through (null-row sweep)
    GROUP BY 1
"""


@register("stream_dedup", group="T", oracle=_DEDUP_ORACLE)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id within the watermark
    (``dropDuplicatesWithinWatermark``): batch 2 re-delivers 50 rows;
    the state store drops every duplicate. The surviving multiset is
    arrival-order-INVARIANT, so this streaming op still hash-checks
    against exact SQL (the NTILE split the stream files were built
    from). That invariance stands on a fixture contract the builder
    ASSERTS (ensure_stream_dirs): event_type is functionally dependent
    on event_id — otherwise the single row the state store keeps would
    be arrival-order-dependent and the oracle's per-type distinct
    count ill-defined. The oracle's ``epoch(ts) >= 0`` guard mirrors the engine's
    initial watermark of epoch 0: pre-1970 event times are below the
    watermark before any data arrives and are dropped on ingest
    (measured by the calendar-edge sweep; no-op on in-range data)."""
    root = ensure_stream_dirs(sf_dir)
    name = f"dd_{uuid.uuid4().hex[:8]}"
    deduped = (
        _read_stream(spark, os.path.join(root, "dedup"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _run_stream(deduped.writeStream.outputMode("append"), name)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "stream_stateful_agg",
    group="T",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(floor(epoch_us(MIN(ts)) / 1000.0) AS BIGINT) AS first_ms,
           CAST(floor(epoch_us(MAX(ts)) / 1000.0) AS BIGINT) AS last_ms
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, first_ts, last_ts) state carried ACROSS three
    microbatches, a version row emitted per update; the final version
    per user (max count / min first / max last — all order-invariant)
    must equal the batch aggregate, so even this op is hash-checked.
    This is the applyInPandasWithState pattern SURVEY §2B-T mandates
    for PySpark (mapGroupsWithState is JVM-only)."""
    root = ensure_stream_dirs(sf_dir)
    name = f"st_{uuid.uuid4().hex[:8]}"

    def track(key, pdf_iter, state: GroupState):
        (user_id,) = key
        n, first, last = state.get if state.exists else (0, None, None)
        for pdf in pdf_iter:
            # count every row, but mask missing timestamps BEFORE the
            # int64 cast — NaT.astype(int64) is Long.MinValue, which
            # would poison min/max (SQL MIN/MAX skip NULLs).
            n += len(pdf)
            ts = pdf["ts"][pdf["ts"].notna()]
            if len(ts):
                ms = ts.astype("datetime64[ns]").astype("int64") // 1_000_000
                first = int(ms.min()) if first is None else min(first, int(ms.min()))
                last = int(ms.max()) if last is None else max(last, int(ms.max()))
        state.update((n, first, last))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "first_ms": [first], "last_ms": [last]}
        )

    versions = (
        _read_stream(spark, os.path.join(root, "state"))
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, n_events long, first_ms long, last_ms long",
            stateStructType="n long, first long, last long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _run_stream(versions.writeStream.outputMode("update"), name)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.min("first_ms").alias("first_ms"),
            F.max("last_ms").alias("last_ms"),
        )
    )


@register(
    "stream_join",
    group="T",
    oracle="""
    SELECT e.event_id AS err_id, c.event_id AS clk_id
    FROM events e JOIN events c
      ON e.user_id = c.user_id
     AND e.event_type = 'error' AND c.event_type = 'click'
     AND c.ts BETWEEN e.ts - INTERVAL 10 MINUTE AND e.ts
    """,
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join shape: every error event joined to
    the same user's clicks in the preceding 10 minutes. Registered as
    the batch-equivalent plan (hash-checked); tests/test_streaming.py
    runs the REAL dual-stream version — both sides watermarked, the
    time-range condition bounding join state so Spark can evict
    buffered rows (without it, stream-stream join state grows without
    bound — the 100 TB failure mode) — and asserts it equals this
    batch result."""
    e = table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("u1"), F.col("ts").alias("ets"),
        F.col("event_id").alias("err_id"),
    )
    clk = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("cts"),
        F.col("event_id").alias("clk_id"),
    )
    cond = (
        (F.col("u1") == F.col("u2"))
        & (F.col("cts") >= F.col("ets") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("cts") <= F.col("ets"))
    )
    return err.join(clk, cond).select("err_id", "clk_id")


@register(
    "stream_foreach_batch",
    group="T",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``foreachBatch`` sink pattern — how production streams write
    to systems without a native streaming sink (JDBC, object stores
    with custom layout). Each microbatch lands in its own
    ``batch_id=N`` partition via an OVERWRITE keyed on the batch id:
    a retried batch replaces its own previous (possibly partial)
    output instead of duplicating it — idempotent, so the sink is
    exactly-once even though foreachBatch itself is at-least-once.
    The read-back aggregate over all landed batches must equal the
    batch SQL over the full fixture: every event exactly once."""
    from ..exprs import dsum
    from ..sources.avro_pipeline import scratch_dir

    root = ensure_stream_dirs(sf_dir)
    out = scratch_dir("fb_sink")
    ckpt = scratch_dir("fb_ckpt")

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(
            os.path.join(out, f"batch_id={batch_id}")
        )

    q = (
        _read_stream(spark, os.path.join(root, "state"))
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)  # batch_id partition discovered
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value")
    )


@register(
    "stream_complete_mode",
    group="T",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_complete_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE output mode: an unwindowed streaming aggregation whose
    ENTIRE result table is re-emitted every microbatch (the mode for
    live dashboards over running totals — no watermark, state never
    evicts). Three microbatches run; the memory sink's final snapshot
    must equal the batch aggregate over everything ingested. Contrast
    with append mode (stream_tumbling: only closed windows emit) and
    update mode; complete mode's state is O(groups), which is why it
    is only legal for aggregated streams."""
    root = ensure_stream_dirs(sf_dir)
    name = f"cm_{uuid.uuid4().hex[:8]}"
    counts = (
        _read_stream(spark, os.path.join(root, "state"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _run_stream(counts.writeStream.outputMode("complete"), name)
    return spark.table(name)


def _ingest_oracle() -> str:
    # Lazy (registry rule): importing avro_pipeline at decoration time
    # would register its ops mid-window. The fixture tree applies the
    # dead-letter gate, so the oracle must see the same row set.
    from ..sources.avro_pipeline import ORDERS_CLEAN_WHERE

    return f"""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders WHERE {ORDERS_CLEAN_WHERE} GROUP BY o_orderstatus
    """


@register("stream_avro_ingest", group="T", oracle=_ingest_oracle)
def stream_avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous Avro ingest — the reference's one-shot repair sweep
    turned into a standing pipeline: new container files landing in a
    prefix are discovered by the file stream source, decoded by the
    same OCF codec, and aggregated incrementally. This registered plan
    is the batch equivalent over the clean fixture tree (hash-checked
    against the orders ground truth); tests/test_streaming.py re-runs
    it as a REAL binaryFile stream (one file per microbatch, 8
    microbatches) through the same codec and asserts the streamed
    aggregate equals this batch result. The batch plan is one job on
    the CLI's planner (``read_avro_dir``): no file byte is shuffled.

    Scale posture: the stream source checkpoints seen-file state, each
    microbatch decodes only new files, and the running (status) aggregate keeps constant
    state. A corrupt file would yield report rows, not a dead query —
    per-file isolation carries over from the batch pipeline."""
    from ..sources.avro_pipeline import (
        ORDERS_SCHEMA,
        ORDERS_SPARK_SCHEMA,
        ensure_avro_fixtures,
        read_avro_dir,
    )

    root = ensure_avro_fixtures(sf_dir)
    df = read_avro_dir(
        spark, os.path.join(root, "clean"), ORDERS_SCHEMA, ORDERS_SPARK_SCHEMA
    )
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


def _salvage_oracle() -> str:
    from ..sources.avro_pipeline import EXPECTED_REPAIR

    values = ", ".join(
        f"('{s}', {lost})" for s, lost in EXPECTED_REPAIR.values()
    )
    return f"""
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(lost_blocks) AS BIGINT) AS lost_blocks
    FROM (VALUES {values}) AS t(status, lost_blocks)
    GROUP BY status
    """


@register("stream_avro_salvage", group="T", oracle=_salvage_oracle)
def stream_avro_salvage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous salvage triage — the reference's one-shot
    validate/repair sweep as a STANDING stream: corrupt container
    files landing in a prefix are discovered by the binaryFile stream
    source one per microbatch, block-salvaged by the batch op's own
    per-file body (``avro_pipeline._repair_row``: per-file fault
    isolation carries over, a dead file is a report row, never a dead
    query), and the fleet-health rollup (files + lost blocks per
    status) is maintained incrementally in complete mode. The stream
    selects only each file's path and length, so Spark never reads
    the file into a ``content`` value (which ``binaryFile`` caps at
    ``spark.sql.sources.binaryFile.maxLength``, 2 GiB by default): the
    salvage reads the file itself through bounded windows.

    This RUNS a real availableNow stream (8 microbatches over the
    deterministic corruption layout) into a memory sink; the oracle is
    the exact expected outcome of that layout, so the hash check pins
    the streamed result end-to-end. Scale posture: seen-file state in
    the checkpoint, one decode task per new file, constant-size
    (3-status) aggregate state — the shape of a repair daemon watching
    an S3 landing prefix."""
    from ..sources.avro_pipeline import _repair_row, ensure_avro_fixtures

    cols = ["file", "status", "lost_blocks"]

    def repair(batches):
        for pdf in batches:
            rows = [r for p, n in zip(pdf["path"], pdf["length"]) for r in _repair_row(p, int(n))]
            yield pd.DataFrame(rows, columns=cols)

    root = ensure_avro_fixtures(sf_dir)
    name = f"salv_{uuid.uuid4().hex[:8]}"
    report = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("maxFilesPerTrigger", 1)
        .load(os.path.join(root, "corrupt"))
        .select("path", "length")
        .mapInPandas(repair, schema="file string, status string, lost_blocks int")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("lost_blocks").cast("bigint").alias("lost_blocks"),
        )
    )
    _run_stream(report.writeStream.outputMode("complete"), name)
    return spark.table(name)
