"""Spark 4 Python DataSource packaging of the OCF codec.

`spark.read.format("avro_ocf")` — the user-facing DataSource-V2 format
for the repo's from-spec Avro container reader. The batch Avro ops run
on the repair CLI's planner instead (``avro_jobs``), but both cut files
with the one cutter (``avro_jobs.split_units``) and read blocks through
the one strict read defined here (:func:`read_container`, over
``avro_codec``'s salvage walk). Here the scan appears as a first-class
source in the plan, schema inference is self-describing (read from the
first container's embedded header, the reference's schema-agnostic
posture — repair-avro.ts never declares a schema), and partition
planning is explicit: BYTE-RANGE splits over each container
(metadata-only planning from the file listing's sizes), with each
task resyncing to the first 16-byte sync marker at/after its range
start and decoding blocks whose header starts inside the range — the
Hadoop/Avro splittable-input idiom, so one 10 GB container is
size/split tasks, not one. The unit is the ``split_size_bytes``
option, not Spark's split size as on the planner: Spark's planner
worker (``pyspark/sql/worker/create_data_source.py``) receives only the
read's options, not the session conf or the core count. Reads stream:
bounded chunked reads, one RecordBatch yielded per ~`_BATCH_ROWS`
records, never a whole-file buffer, so a task's memory does not grow
with the container.

Executors import this module by name (pyspark pickles the class), so
on a real cluster the package ships as a wheel/zip via
``spark.submit.pyFiles`` — the standard Python DataSource deployment.

Reads yield pyarrow RecordBatches (the Arrow fast path of the Python
DataSource API), never per-row pickled tuples. Writes take them in
:func:`write_part`, the container writer of every Avro sink.

Spark runs the planner calls (``create_data_source``,
``plan_data_source_read``, ``write_into_data_source``, ...) in workers
of its stock ``pyspark.daemon``, which it reuses across calls. Each
call starts with ``importlib.invalidate_caches()``, which re-reads the
zip directories of ``pyspark.zip``, the py4j zip and the spark-core jar
(0.12–0.16 s). Importing this module in such a worker installs
``_pydaemon``'s hook, so the calls after it keep those directories.
"""

from __future__ import annotations

import sys

_main_spec = getattr(sys.modules.get("__main__"), "__spec__", None)
if getattr(_main_spec, "name", None) == "pyspark.daemon":
    # A worker forked by Spark's stock daemon, as every DataSource
    # planner worker is: keep Spark's zip directories for the later
    # planner calls this reused worker serves (see ``_pydaemon``).
    from .._pydaemon import keep_startup_archives

    keep_startup_archives()

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

from .avro_jobs import (
    _BATCH_ROWS,
    AVRO_TO_SPARK,
    SPARK_TO_AVRO,
    _list_container_files_sized,
    _pa_type,
    arrow_batches,
    split_units,
)


def _field_ddl(ftype) -> str:
    """Avro field type -> Spark DDL type, for header-driven schema
    inference. Covers the primitive + nullable-union surface the
    fixture fleets use; logical types surface as their raw carrier
    (timestamp-micros -> long), matching read_ocf's raw decode.
    Complex types (record/array/map/enum/fixed) require an explicit
    reader schema — inference refuses rather than guessing."""
    if isinstance(ftype, str):
        try:
            return AVRO_TO_SPARK[ftype]
        except KeyError:
            raise ValueError(f"pass an explicit schema for type {ftype!r}")
    if isinstance(ftype, list):  # union: nullable T is the only shape
        branches = [b for b in ftype if b != "null"]
        if len(branches) == 1:
            return _field_ddl(branches[0])
        raise ValueError("pass an explicit schema for multi-branch unions")
    if isinstance(ftype, dict) and ftype.get("type") in AVRO_TO_SPARK:
        return AVRO_TO_SPARK[ftype["type"]]  # logical type -> carrier
    raise ValueError(f"pass an explicit schema for type {ftype!r}")


# Split planning default: the same 128 MB granularity as
# spark.sql.files.maxPartitionBytes' default; override per-read with
# .option("split_size_bytes", n) (tests use small values to exercise
# multi-split containers at fixture scale). Per-task memory is about
# _BATCH_ROWS rows held between yields, plus at most one decompressed
# block (MAX_BLOCK_BYTES-capped by the codec).
_SPLIT_BYTES_DEFAULT = 128 * 1024 * 1024


class AvroOCFReader(DataSourceReader):
    def __init__(self, options, out_fields):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("avro_ocf: .load(path) is required")
        # [(output name, pyarrow type)] — positional over the
        # container's field order, like read_avro_dir
        self._out = out_fields
        self._split = int(
            options.get("split_size_bytes", _SPLIT_BYTES_DEFAULT)
        )
        if self._split <= 0:
            raise ValueError("avro_ocf: split_size_bytes must be positive")

    def partitions(self):
        """One partition per unit of ``avro_jobs.split_units`` at
        ``split_size_bytes``, from the listing's sizes alone — no data
        read at plan time. Block boundaries are found at READ time by
        each task resyncing on the container's sync marker (the
        splittable-format idiom), so a skewed fleet of containers plans
        into even ~split-sized tasks instead of one task per file."""
        files = _list_container_files_sized(self._path)
        return [InputPartition(u) for u in split_units(files, self._split)]

    def read(self, partition):
        if partition is None:
            # partitions() returned [] (no container files — e.g. a
            # sink round-trip over an empty input): Spark still issues
            # one read(None) call; an empty scan is the answer.
            return
        yield from arrow_batches(read_container(*partition.value), self._out, _BATCH_ROWS)


def read_container(path: str, start: int, end: int, size: int, reader=None):
    """Strict read of the blocks the byte range ``[start, end)`` of the
    container at ``path`` (``size`` bytes) owns: one tuple per record,
    positional over ``reader``'s fields (read by Avro schema
    resolution), or over the container's own fields without a reader.
    The first damage raises (``avro_codec.salvage_blocks(strict=True)``).

    The header comes from a growing bounded prefix and the range through
    ``avro_codec._CHUNK``-byte reads, so memory stays O(chunk + one
    block); a file no larger than one chunk is read whole by the first
    read."""
    from operator import itemgetter

    from .. import fsio
    from ..avro_codec import ByteWindow, block_decoder, salvage_blocks

    fs, p = fsio.resolve(path)
    with fs.open_input_file(p) as f:
        win = ByteWindow(f, size)
        writer, codec, sync, hdr_end = win.read_header()
        pos = win.first_block(start, end, hdr_end, sync)
        if pos is None:
            return  # no block header lies in this range
        names = [fl["name"] for fl in (reader or writer)["fields"]]
        row = itemgetter(*names) if len(names) > 1 else lambda r: (r[names[0]],)
        decode = block_decoder(writer, reader)
        for _, _, recs, *_ in salvage_blocks(
            win, writer, codec, sync, pos, end, decode, strict=True
        ):
            yield from map(row, recs)


def write_part(batches, out_dir: str, schema: dict, codec: str = "null"):
    """Write one task's Arrow ``batches`` as the container
    ``out_dir/part-<partition id>.avro`` (any path or URI ``fsio``
    resolves) and return ``(path, n_records)``; no rows, no file. The
    writer of ``format("avro_ocf")`` and ``write_avro_dir``.

    ``to_pylist`` records keep a null ``None`` and a long an exact int.
    The file goes to a temp name of this task attempt and moves into
    place only when complete: the reference's delete+rename swap
    (repair-avro.ts:152-153)."""
    from pyspark import TaskContext

    from .. import fsio
    from ..avro_codec import write_ocf

    pid = TaskContext.get().partitionId()
    # each task resolves the URI itself (no FileSystem is shipped);
    # create_dir is idempotent, for filesystems that are not shared
    fs, dpath = fsio.resolve(out_dir)
    fs.create_dir(dpath, recursive=True)

    def recs():
        for batch in batches:
            yield from batch.to_pylist()

    return fsio.atomic_stream_records(
        fsio.join(dpath, f"part-{pid:05d}.avro"),
        lambda out: write_ocf(out, schema, recs(), codec=codec, block_records=1000),
        filesystem=fs,
    )


class AvroOCFDataSource(DataSource):
    """format("avro_ocf"): strict OCF scan over a file or directory.

    With an explicit ``.schema(ddl)`` the column NAMES are applied
    positionally over the container's field order (the …_us rename
    convention); without one, the schema is inferred from the first
    container's embedded writer schema."""

    @classmethod
    def name(cls):
        return "avro_ocf"

    def schema(self):
        from .. import fsio
        from ..avro_codec import ByteWindow

        files = _list_container_files_sized(self.options.get("path", ""))
        if not files:
            raise ValueError("avro_ocf: no container files under path")
        path, size = files[0]
        fs, p = fsio.resolve(path)
        with fs.open_input_file(p) as f:
            schema, _codec, _sync, _pos = ByteWindow(f, size).read_header()
        cols = ", ".join(
            f"{fl['name']} {_field_ddl(fl['type'])}" for fl in schema["fields"]
        )
        return cols

    def reader(self, schema):
        # `schema` is the resolved StructType (explicit or inferred);
        # names + types applied positionally over the codec's output.
        return AvroOCFReader(
            self.options,
            [(f.name, _pa_type(f.dataType)) for f in schema.fields],
        )

    def writer(self, schema, overwrite: bool):
        if overwrite:
            from .. import fsio

            try:
                fs, p = fsio.resolve(self.options.get("path", ""))
                import pyarrow.fs as pafs

                if fs.get_file_info(p).type == pafs.FileType.Directory:
                    # Clear only prior container files (and stale temps
                    # of theirs) — an unrelated file under the path is
                    # not ours to delete (ADVICE r9).
                    sel = pafs.FileSelector(p, recursive=True)
                    for info in fs.get_file_info(sel):
                        if info.type == pafs.FileType.File and (
                            info.path.endswith(".avro")
                            or ".avro.tmp" in info.path
                        ):
                            fs.delete_file(info.path)
            except FileNotFoundError:
                pass
        return AvroOCFArrowWriter(self.options, _avro_schema_for(schema))


# ---------------------------------------------------------------------------
# write path

def _avro_schema_for(struct) -> dict:
    """Spark StructType -> Avro record schema (write-side inverse of
    _field_ddl): primitives map 1:1, nullable fields become
    ["null", T] unions. Complex / decimal / timestamp columns demand
    an explicit schema-driven pipeline (write_avro_dir) — refuse."""
    fields = []
    for f in struct.fields:
        t = f.dataType.typeName()
        try:
            avro_t = SPARK_TO_AVRO[t]
        except KeyError:
            raise ValueError(
                f"avro_ocf write: unsupported column type {t!r}; use "
                "avro_pipeline.write_avro_dir with an explicit schema"
            )
        fields.append(
            {"name": f.name, "type": ["null", avro_t] if f.nullable else avro_t}
        )
    return {"type": "record", "name": "row", "fields": fields}


class _Commit(WriterCommitMessage):
    def __init__(self, path: str, n: int):
        self.path = path
        self.n = n


class AvroOCFArrowWriter(DataSourceArrowWriter):
    """One container file per partition, written by :func:`write_part`
    straight out of Spark's Arrow batches."""

    def __init__(self, options, avro_schema):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("avro_ocf: .save(path) is required")
        self._schema = avro_schema

    def write(self, iterator):
        return _Commit(*write_part(iterator, self._path, self._schema))

    def commit(self, messages):
        # per-file atomic commit already happened; nothing global to do
        return None

    def abort(self, messages):
        from .. import fsio

        for m in messages:
            if m is not None:
                try:
                    fs, p = fsio.resolve(m.path)
                    fs.delete_file(p)
                except Exception:
                    pass


def mount(spark) -> str:
    """Register the data source on THIS session and return the format
    name to use. Spark 4's Python data source registry is asymmetric:
    the duplicate-name check on register() is process-global while
    format lookup at read time is session-local — so once any session
    has registered "avro_ocf", a sibling (newSession()) can neither
    register that name nor resolve it. The cure: probe session-local
    visibility via sessionState().dataSourceManager(), and when the
    canonical name is globally taken but locally invisible, mint a
    session-scoped alias subclass (cloudpickle ships the class by
    value, so a dynamically-named subclass works on executors)."""
    name = AvroOCFDataSource.name()
    # Classic-session only: the registry probe and active-session pin
    # below need the JVM handle. Under Spark Connect (_jsparkSession
    # absent) fail fast with a clear error instead of letting the
    # mgr call below throw an AttributeError mid-mount (ADVICE r9).
    if getattr(spark, "_jsparkSession", None) is None:
        raise RuntimeError(
            "avro_ocf: mount() requires a classic SparkSession (the "
            "Spark 4 Python data source registry workaround probes "
            "sessionState via the JVM handle, absent under Spark "
            "Connect)"
        )
    # The WRITE-path lookup (DataSource.lookupDataSourceV2) resolves
    # Python data sources through the JVM's ACTIVE session, not the
    # DataFrame's own — a sibling session whose registration is only
    # local would read fine but fail .save() with
    # DATA_SOURCE_NOT_FOUND. Pin this session active first.
    try:
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except Exception:
        pass
    mgr = spark._jsparkSession.sessionState().dataSourceManager()
    if mgr.dataSourceExists(name):
        return name
    try:
        spark.dataSource.register(AvroOCFDataSource)
        return name
    except Exception as exc:
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise
    alias = f"{name}_{abs(spark._jsparkSession.hashCode())}"
    if not mgr.dataSourceExists(alias):
        alias_cls = type(
            "AvroOCFDataSourceAlias",
            (AvroOCFDataSource,),
            {"name": classmethod(lambda cls: alias)},
        )
        spark.dataSource.register(alias_cls)
    return alias


# ---------------------------------------------------------------------------
# registered op


def _scan_oracle() -> str:
    from .avro_pipeline import ORDERS_CLEAN_WHERE

    return f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us
    FROM orders WHERE {ORDERS_CLEAN_WHERE}
    """


def _register_ops():
    import os

    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from ..plans.registry import register
    from ..tables import table

    @register(
        "sink_avro_datasource",
        group="E",
        oracle="""
        SELECT lang, COUNT(*) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
          AND lang IS NOT NULL AND n_chars IS NOT NULL
        GROUP BY lang
        """,
    )
    def sink_avro_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
        """sink_avro's round-trip through the DataSource write path:
        df.write.format("avro_ocf").mode("overwrite").save(dir) — one
        atomically-committed container per partition streamed straight
        out of Arrow batches (DataSourceArrowWriter), Avro schema
        derived from the DataFrame's StructType (nullable fields
        become ["null", T] unions), then read back through the SAME
        format and aggregated against the parquet ground truth. The
        full write+read codec round-trip must be value-exact."""
        from .avro_pipeline import scratch_dir

        out = scratch_dir("sink_avro_datasource")
        d = (
            table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "n_chars")
            .na.drop()
        )
        fmt = mount(spark)
        d.write.format(fmt).mode("overwrite").save(out)
        # Explicit read-back schema: an EMPTY input writes no container
        # files (zero tasks), and header-driven inference rightly
        # refuses an empty directory — the explicit schema makes the
        # empty round-trip a plain empty scan instead.
        back = (
            spark.read.format(fmt)
            .schema("doc_id long, text string, lang string, n_chars long")
            .load(out)
        )
        return back.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )

    @register("avro_scan_datasource", group="E", oracle=_scan_oracle)
    def avro_scan_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The avro_scan semantics through the Python DataSource API
        (format("avro_ocf")) instead of the planner job: the scan is a
        first-class DataSource-V2 source with byte-range split planning
        and Arrow-batch reads, driven by the SAME strict read
        (:func:`read_container` — corruption fails the task). Must
        hash-match the parquet ground truth exactly like avro_scan:
        two plans, one read, one set of semantics.
        Reference A7 (repair-avro.ts:106-116), re-expressed the way a
        Spark user would actually mount a custom format."""
        from .avro_pipeline import ORDERS_SPARK_SCHEMA, ensure_avro_fixtures

        root = ensure_avro_fixtures(sf_dir)
        return (
            spark.read.format(mount(spark))
            .schema(ORDERS_SPARK_SCHEMA)
            .load(os.path.join(root, "clean"))
        )


_register_ops()
