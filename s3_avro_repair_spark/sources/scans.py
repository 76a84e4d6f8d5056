"""S group — scans, sources, sinks.

The reference's source side is an S3 object listing + whole-object
download (``/root/reference/src/services/repair-avro.ts:37-40,106-116``);
its sink side is a conditional whole-object re-upload (``:118-124``).
Spark replaces both with declarative scans (pushdown, pruning, per-file
provenance via ``input_file_name``) and committed distributed writes —
no staging copies, no driver-side buffering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exprs import dsum
from ..plans.registry import register
from ..tables import table
from .avro_pipeline import _cached_tree, scratch_dir


@register(
    "scan_parquet",
    group="S",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity > 45
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + filter pushed INTO the parquet scan.

    ``.explain("formatted")`` shows ``PushedFilters:
    [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]`` and a
    3-column ReadSchema — at 100 TB the scan decodes 3 of 11 columns
    and skips row groups whose max(l_quantity) <= 45 via statistics.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "scan_with_filename",
    group="S",
    oracle="""
    SELECT 'lineitem.parquet' AS file, COUNT(*) AS n FROM lineitem
    """,
)
def scan_with_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file provenance — the engine analog of the reference's
    object listing (repair-avro.ts:37-40): every row knows its source
    object, then a per-file rollup. ``input_file_name()`` is evaluated
    inside the scan, zero extra I/O."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias("file")
        )
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register("scan_sample", group="S", oracle=None)
def scan_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli sample with a fixed seed — the engine analog of the
    reference's sampled validation (``samplerate: .01``,
    resources/application.yml:7). Sampling is pushed into the scan
    (SampleExec over the file scan, no full materialization).
    rows-only check: the sampling RNG is engine-specific, but the seed
    makes it reproducible run-to-run within Spark."""
    o = table(spark, sf_dir, "orders")
    return o.sample(fraction=0.1, seed=42).select("o_orderkey", "o_totalprice")


@register(
    "sink_parquet",
    group="S",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + read-back round-trip.

    Writes orders Hive-partitioned by ``o_orderstatus=...`` (the layout
    that makes partition pruning free on every later read — SURVEY §1.1
    maps the reference's ``data=YYYY-MM-DD`` prefixes to exactly this),
    then re-reads and aggregates. Spark's FileOutputCommitter gives the
    write-to-temp + atomic-rename semantics the reference hand-rolls
    (repair-avro.ts:152-153).
    """
    out = scratch_dir("sink_parquet")
    o = table(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # Explicit schema on the read-back: a zero-row write leaves only
    # _SUCCESS behind, and schema inference over no files throws — an
    # empty partition must round-trip to an empty aggregate.
    back = spark.read.schema(o.schema).parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price")
    )


@register(
    "sink_avro",
    group="S",
    oracle="""
    SELECT lang, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL
      AND lang IS NOT NULL AND n_chars IS NOT NULL
    GROUP BY lang
    """,
)
def sink_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink + read-back round-trip (the reference's re-upload
    analog, repair-avro.ts:118-124, with an explicit output URI instead
    of its buggy bucket string — see SURVEY §2A latent defect).

    The spark-avro jar is not on this classpath, so the container files
    are written by our own pure-Python OCF codec (avro_codec.py) — one
    file per partition, a mapInArrow over ``avro_datasource.write_part``
    (``write_avro_dir``), then scanned back with the same codec in one
    job on the CLI's planner (``read_avro_dir``). See
    sources/avro_pipeline.py for the full pipeline surface.
    """
    from .avro_pipeline import read_avro_dir, write_avro_dir

    out = scratch_dir("sink_avro")
    # The declared Avro schema is NON-nullable; rows violating it are
    # dead-lettered (filtered) rather than failing the write task —
    # mirrored in the oracle's WHERE so parity holds on dirty data too.
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "n_chars")
        .na.drop()
    )
    schema = {
        "type": "record",
        "name": "document",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "text", "type": "string"},
            {"name": "lang", "type": "string"},
            {"name": "n_chars", "type": "long"},
        ],
    }
    write_avro_dir(d, out, schema)
    back = read_avro_dir(
        spark, out, schema, "doc_id long, text string, lang string, n_chars long"
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars")
    )


@register(
    "sink_bucketed",
    group="S",
    oracle="""
    SELECT o.o_orderkey, COUNT(*) AS n_items
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
    """,
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join layout: both join sides repartitioned to the SAME
    hash partitioning on the join key before the join, so the join
    itself is exchange-free (the promise in joins.py::join_sort_merge).

    On a real cluster this layout is persisted once via
    ``write.bucketBy(n, key).sortBy(key).saveAsTable(...)`` and every
    subsequent join on the key skips its shuffle; here we build the
    partitioning in-plan (no metastore in the driver session) — the
    join below runs with both sides already hash-partitioned(8) on the
    key, which AQE recognizes and plans zero extra exchanges for.
    """
    o = table(spark, sf_dir, "orders").repartition(8, "o_orderkey")
    li = table(spark, sf_dir, "lineitem").repartition(8, "l_orderkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )


# ---------------------------------------------------------------------------
# multi-format text fixtures (deterministic, cached, versioned)
# ---------------------------------------------------------------------------


def ensure_text_fixtures(sf_dir: str) -> str:
    """Generate (once, atomically, cached) JSONL + CSV renditions of the
    parquet fixtures, so format-scan ops can hash-check against the
    SAME logical table through a different physical encoding.

    v1: bump the suffix whenever rendition code changes (cache
    versioning rule — see avro_pipeline.ensure_avro_fixtures)."""
    import json
    import os

    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        docs = (
            pq.read_table(f"{sf_dir}/documents.parquet")
            .to_pandas()
            .sort_values("doc_id")
        )
        with open(os.path.join(tmp, "documents.jsonl"), "w", encoding="utf-8") as fo:
            for rec in docs.to_dict("records"):
                fo.write(json.dumps(rec, ensure_ascii=False, sort_keys=True) + "\n")
        cust = (
            pq.read_table(f"{sf_dir}/customer.parquet")
            .to_pandas()
            .sort_values("c_custkey")
        )
        # CSV is POSITION-addressed: the extract pins its column order
        # instead of inheriting the source table's physical order — a
        # reordered or widened upstream generation must not change the
        # bytes this rendition emits (column-evolution sweep find).
        cust = cust[
            ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
        ]
        cust.to_csv(os.path.join(tmp, "customer.csv"), index=False)

    return _cached_tree(sf_dir, "text_v2", ("documents", "customer"), build)


@register(
    "scan_jsonl",
    group="S",
    oracle="""
    SELECT doc_id, lang, LENGTH(text) AS n_chars_read FROM documents
    """,
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with an EXPLICIT schema — the raw-crawl input
    format of every LLM data pipeline. The explicit schema matters at
    scale twice over: without it Spark runs a full inference pass
    (double read of 100 TB), and with it the JSON parser prunes unread
    fields during tokenization (column pruning inside the codec).
    Hash-checked against the parquet rendition of the same table, so
    the encode/decode round-trip must be byte-faithful."""
    root = ensure_text_fixtures(sf_dir)
    df = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(f"{root}/documents.jsonl")
    return df.select(
        "doc_id", "lang", F.length("text").alias("n_chars_read")
    )


@register(
    "scan_csv",
    group="S",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_acctbal > 5000
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header CSV scan (RFC 4180 quoting, explicit schema) with a
    post-scan filter. CSV is the one mainstream format with NO
    row-group statistics and NO column projection — the filter cannot
    push below the parse, every byte is read. The docstring contrast
    with scan_parquet's PushedFilters IS the lesson; hash parity
    proves the text round-trip (quotes, floats) is exact.

    ``enforceSchema=false`` makes the reader VALIDATE the header
    against the declared schema and fail loudly on mismatch — the
    default silently zips schema to columns by position, which turns
    an upstream column reorder into garbage values, not an error
    (column-evolution sweep)."""
    root = ensure_text_fixtures(sf_dir)
    df = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("enforceSchema", False)
        .schema(
            "c_custkey long, c_name string, c_nationkey long, "
            "c_acctbal double, c_mktsegment string"
        )
        .csv(f"{root}/customer.csv")
    )
    return df.filter(F.col("c_acctbal") > 5000).select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "compact_small_files",
    group="S",
    oracle="""
    SELECT CAST(8 AS BIGINT) AS n_files_before,
           CAST(1 AS BIGINT) AS n_files_after,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the single most common maintenance job on
    a real lake (streaming sinks and per-task writers shred tables into
    files far below the 128MB scan-efficient size; the reference's
    pipeline writes one object per input object and has no answer).

    Plan: write the table as 8 range-partitioned files (the "before"
    state, sorted by doc_id so compacted files keep min/max pruning),
    size the target from FILE METADATA — ceil(total_bytes / 128MB),
    the scan-efficient file size, listed via fsio so the same code
    plans against S3 — then read back, coalesce to that target, and
    rewrite. The before-count comes from the SAME metadata listing —
    no mid-plan driver ``count()`` job; the op runs no distributed
    action besides the two writes. Content preservation is proven by
    hashing the post-compaction aggregate against the original table;
    file counts are part of the hashed output, predictable because the
    shred and the byte-derived target are both deterministic. At 100 TB
    the identical logic runs partition-by-partition (metadata listing
    per partition, never whole-table), and the 128MB divisor makes the
    target honest at ANY size — the fixture lands on 1 file because it
    IS under 128MB, not because 1 is hardcoded."""
    import math

    from pyarrow import fs as pafs

    from .. import fsio

    small = scratch_dir("compact_small")
    compacted = scratch_dir("compact_out")
    d = table(spark, sf_dir, "documents")
    d.repartitionByRange(8, "doc_id").write.mode("overwrite").parquet(small)

    fs_, small_path = fsio.resolve(small)
    data_files = [
        info
        for info in fs_.get_file_info(pafs.FileSelector(small_path))
        if info.type == pafs.FileType.File
        and info.base_name.endswith(".parquet")
    ]
    total_bytes = sum(info.size for info in data_files)
    n_before = len(data_files)
    target = max(1, math.ceil(total_bytes / (128 << 20)))

    back = spark.read.parquet(small)
    back.coalesce(target).write.mode("overwrite").parquet(compacted)
    cb = spark.read.parquet(compacted).select(
        F.input_file_name().alias("f"), "n_chars"
    )
    return (
        cb.agg(
            F.countDistinct("f").cast("long").alias("n_files_after"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .withColumn("n_files_before", F.lit(n_before).cast("long"))
    )


@register(
    "scan_schema_merge",
    group="S",
    oracle="""
    SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1
    """,
)
def scan_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan over parquet: half the table written with
    an OLD 2-column schema, half with today's 3-column schema, read in
    one pass with ``mergeSchema`` — old files surface the new column as
    NULL. This is the parquet-side mirror of avro_scan_evolved (there
    the READER schema fills defaults in-codec; here the SCAN unions
    file schemas), and the reality of any table written over years.
    At 100 TB, mergeSchema's footer-union pass is driver-side cost per
    file — pin the schema in a metastore and pay it once, not per read."""
    out = scratch_dir("schema_merge")
    d = table(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(f"{out}/v1")
    d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars").write.mode(
        "overwrite"
    ).parquet(f"{out}/v2")
    return spark.read.option("mergeSchema", True).parquet(f"{out}/v1", f"{out}/v2")


@register(
    "scan_jsonl_permissive",
    group="S",
    oracle="""
    SELECT COUNT(*) AS n_good,
           CAST(2 AS BIGINT) AS n_bad,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars
    FROM documents
    """,
)
def scan_jsonl_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant JSON scan: the fixture JSONL plus two
    deliberately broken lines, read in PERMISSIVE mode with an explicit
    ``_corrupt_record`` column — malformed rows become data (audit
    rows), never job failures. The ingestion-side twin of the E group's
    per-file fault isolation: at 100 TB a crawl dump ALWAYS contains
    torn lines, and a scan that dies on the first one cannot finish.
    The oracle pins exact good/bad accounting. (Spark disallows
    touching only the corrupt column on an unmaterialized scan — the
    aggregate references data columns too, which keeps the plan legal.)
    """
    import os
    import shutil

    text_root = ensure_text_fixtures(sf_dir)

    def build(tmp: str) -> None:
        shutil.copy(
            os.path.join(text_root, "documents.jsonl"),
            os.path.join(tmp, "documents.jsonl"),
        )
        with open(os.path.join(tmp, "documents.jsonl"), "a") as fo:
            fo.write('{"doc_id": 999999, "text": "torn line\n')
            fo.write("not json at all }{\n")

    root = _cached_tree(sf_dir, "textbad_v1", ("documents",), build)
    df = (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(f"{root}/documents.jsonl")
    )
    return df.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.col("_corrupt_record")).alias("n_bad"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.length("text"))).alias(
            "sum_chars"
        ),
    )


@register(
    "scan_observed",
    group="S",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity > 25
    """,
)
def scan_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan with ``observe`` metrics: rows-scanned and total quantity
    are accumulated DURING the pass (named observation `scan_metrics`),
    so pipeline accounting costs zero extra jobs — the anti-pattern it
    replaces is the separate `.count()` pass that re-reads the input.
    This is the engine-side analog of the reference's per-file progress
    bar (`/root/reference/src/helpers/progress-bar.ts`): monitoring as
    a side channel of the real work, not a second pass.

    The observe node is a pass-through for rows (the oracle sees the
    plain filtered scan); metrics surface post-action via the query
    execution's observedMetrics — asserted exact in
    tests/test_quality.py. The filter stays below the observation so
    the metrics describe the WHOLE scan, not the filtered remainder:
    observation before pushdown-able filters pins the scan-level
    numbers a 100 TB audit needs (bytes billed vs rows delivered)."""
    li = table(spark, sf_dir, "lineitem")
    observed = li.observe(
        "scan_metrics",
        F.count(F.lit(1)).alias("rows_scanned"),
        dsum("l_quantity", "qty_total"),
    )
    return observed.filter(F.col("l_quantity") > 25).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def _ensure_orc_fixture(sf_dir: str) -> str:
    """ORC rendition of (o_orderkey, o_orderstatus, o_totalprice) —
    same versioned-cache discipline as ensure_text_fixtures (_orc_v1)."""
    import os

    import pyarrow.parquet as pq
    from pyarrow import orc as pa_orc

    def build(tmp: str) -> None:
        t = pq.read_table(
            f"{sf_dir}/orders.parquet",
            columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
        )
        pa_orc.write_table(t, os.path.join(tmp, "orders.orc"))

    return _cached_tree(sf_dir, "orc_v1", ("orders",), build)


@register(
    "scan_orc",
    group="S",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan — the other columnar container (stripe/row-group
    indexed, predicate pushdown, column pruning — same scan contract as
    parquet through a different codec). Completes the format matrix:
    one logical table hash-matched through parquet, JSONL, CSV, Avro,
    and ORC physical encodings, which is exactly the guarantee a
    migration between formats needs. Spark's vectorized ORC reader
    keeps this scan whole-stage-codegen like the parquet path."""
    root = _ensure_orc_fixture(sf_dir)
    df = spark.read.orc(f"{root}/orders.orc")
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total_price"),
    )


@register(
    "join_bucketed_tables",
    group="S",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS item_rev
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY l_orderkey
    """,
)
def join_bucketed_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED bucketed-join layout sink_bucketed only simulates:
    both fact tables written once via
    ``write.bucketBy(8, key).sortBy(key).saveAsTable(...)`` (Spark
    native bucketing, no Hive needed — session catalog + explicit
    path), then joined AND aggregated on the bucket key with ZERO
    exchanges end-to-end: the bucketed scans report HashPartitioning,
    the sort-merge join consumes it, and the groupBy on the same key
    rides the partitioning too. This is the layout that amortizes the
    shuffle of every future join/agg on the key across one write —
    at 100 TB the single biggest recurring-cost saver there is.
    The write happens once per session per scale (table-exists check
    against a cached path); the QUERY is exchange-free, which
    test_bucketed_join_has_no_exchange pins."""
    import os

    from .avro_pipeline import _CACHE_ROOT

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = os.path.join(_CACHE_ROOT, f"{tag}_bucketed_v1")
    specs = {
        f"sg_orders_b8_{tag}": ("orders", "o_orderkey"),
        f"sg_lineitem_b8_{tag}": ("lineitem", "l_orderkey"),
    }
    for tbl, (src, key) in specs.items():
        path = os.path.join(root, tbl)
        if not spark.catalog.tableExists(tbl):
            (
                table(spark, sf_dir, src)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", path)
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(tbl)
            )
    # Demo discipline: at fixture scale AQE would broadcast the small
    # side, which bypasses bucketing entirely; disable it op-locally so
    # the plan is the bucket-aligned sort-merge join a 100 TB fact-fact
    # join would use (tune_for_oracle resets the conf for the next op).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = spark.table(f"sg_orders_b8_{tag}")
    li = spark.table(f"sg_lineitem_b8_{tag}")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", "item_rev"),
        )
    )


@register(
    "scan_parquet_partitioned",
    group="S",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) = 1996
    """,
)
def scan_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet scan with PARTITION PRUNING: the
    orders table laid out as ``year=YYYY/`` directories (written once,
    cached per scale), then filtered on the partition column — the
    filter never touches data, it prunes whole directories at planning
    time (PartitionFilters in the scan node, pinned by
    test_partitioned_parquet_scan_prunes). This is THE layout decision
    for a 100 TB fact table: a date-range query reads only its
    partitions' bytes, and the same pruning is what join_dpp extends
    to runtime join keys. The partition column comes back via
    partition discovery; data columns stay pruned to the projection."""
    laid_out = table(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    root = _cached_tree(
        sf_dir,
        "pqpart_v1",
        ("orders",),
        lambda tmp: laid_out.write.partitionBy("year").mode("overwrite").parquet(tmp),
    )
    # Explicit schema: an all-empty layout (zero input rows) has no
    # data files to infer from, and partition discovery still prunes
    # on `year` exactly as with inference.
    return (
        spark.read.schema(laid_out.schema).parquet(root)
        .filter(F.col("year") == 1996)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
