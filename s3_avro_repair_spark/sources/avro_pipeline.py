"""E group — the Avro validate/repair/rewrite pipeline (the reference's
entire reason to exist, re-expressed as DataFrame operations).

Reference anchors (``/root/reference/src/services/repair-avro.ts``):
- object listing :37-40            -> driver-side listing (metadata only)
- download :106-116                -> each task reads its own files; no staging
- sampled validate :126-142        -> :func:`avro_validate` (strict full decode
  by default — the 100 TB-honest choice; sampling was the reference's cost
  dodge, ``resources/application.yml:6-7``)
- block-salvage repair :144-164    -> :func:`avro_repair` via
  ``avro_codec.salvage_ocf`` (sync-marker resync)
- atomic swap :152-153             -> write-to-tmp + ``os.replace`` per file
- conditional re-upload :118-124   -> :func:`avro_rewrite` with an explicit URI
- per-file outcomes :58,64         -> :func:`pipeline_report` (healthy /
  repaired / unrepairable), failures isolated per file — never
  abort-the-run (contrast the reference's single try/catch :72-74)

Scale design: every op is ONE Spark job on the repair CLI's planner
(``avro_jobs``): the driver lists the files, cuts them into units,
packs those into byte-balanced bins, and each task reads, validates or
repairs the units of its bin and ships Arrow batches — no file byte is
shuffled, no driver buffering, no whole-directory reads. A record scan
(``read_avro_dir``) cuts a large file into byte ranges by the CLI's
unit rule; a per-file answer (validate, repair, stats) is a plain
function of one whole file, and a corrupt file yields a report row
instead of killing the job.

The spark-avro jar is absent from this classpath, so scan/write use the
repo's own pure-Python OCF codec (``avro_codec.py``) — same public
container format, in-process.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import tempfile
from collections.abc import Callable
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..avro_codec import (
    ByteWindow,
    SalvageResult,
    block_spans,
    block_stats,
    compile_decoder,
    salvage_blocks,
    salvage_range,
    sampled_validate,
    write_ocf,
)
from ..exprs import dsum
from ..plans.registry import register
from ..tables import fixture_token, table
from .avro_jobs import _list_container_files_sized, run_files, run_units, spark_units

ORDERS_SCHEMA = {
    "type": "record",
    "name": "order",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_custkey", "type": "long"},
        {"name": "o_orderstatus", "type": "string"},
        {"name": "o_totalprice", "type": "double"},
        {"name": "o_orderdate", "type": {"type": "long", "logicalType": "timestamp-micros"}},
    ],
}
ORDERS_COLS = [f["name"] for f in ORDERS_SCHEMA["fields"]]
# The previous generation of the writer schema (mixed/ fixture tree):
# same record name, no o_orderstatus / o_orderdate yet.
OLD_ORDERS_SCHEMA = {
    "type": "record",
    "name": "order",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_custkey", "type": "long"},
        {"name": "o_totalprice", "type": "double"},
    ],
}
ORDERS_SPARK_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate_us long"
)
# Logical-type rendition: the same orders expressed through the Avro
# spec's decimal (bytes, two's-complement big-endian unscaled int) and
# date (int, days since epoch) annotations — the two logical types the
# micros-long fixtures don't exercise.
TYPED_ORDERS_SCHEMA = {
    "type": "record",
    "name": "order_typed",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {
            "name": "o_totalprice",
            "type": {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": 18,
                "scale": 2,
            },
        },
        {"name": "o_orderdate", "type": {"type": "int", "logicalType": "date"}},
    ],
}
TYPED_ORDERS_COLS = [f["name"] for f in TYPED_ORDERS_SCHEMA["fields"]]
_US_PER_DAY = 86_400_000_000
N_FILES = 8

# Every avro fixture tree derives from orders.parquet through
# _orders_records' dead-letter gate (NULL in any written field, or a
# non-finite price, is refused exactly as a real Avro ingest under a
# non-nullable writer schema would refuse it). Oracles whose row set
# comes from the fixture tree must therefore apply the SAME gate —
# on clean driver fixtures it is a no-op, on dirty inputs it keeps the
# two engines looking at the same fleet. DuckDB footgun this guards:
# NaN IS NOT NULL is TRUE, so isfinite() is the actual NaN/Inf gate
# (and without it, CAST(o_totalprice AS DECIMAL) errors on NaN/Inf).
ORDERS_CLEAN_WHERE = (
    "o_orderkey IS NOT NULL AND o_custkey IS NOT NULL "
    "AND o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL "
    "AND isfinite(o_totalprice) AND o_orderdate IS NOT NULL"
)


def clean_orders(df: DataFrame) -> DataFrame:
    """Spark twin of ``_orders_records``' dead-letter gate (and of
    ``ORDERS_CLEAN_WHERE``): use it on any plan that writes orders rows
    through the non-nullable writer schema so both engines agree on the
    fleet's row set. ``na.drop`` already drops NaN for double columns;
    the explicit predicate adds the +/-Inf refusal."""
    price = F.col("o_totalprice")
    return df.na.drop(subset=ORDERS_COLS).where(
        ~F.isnan(price) & (F.abs(price) != float("inf"))
    )

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_CACHE_ROOT = os.path.join(_REPO_ROOT, ".avro_cache")


def _cached_tree(
    sf_dir: str, tag: str, inputs: tuple[str, ...], build: Callable[[str], None]
) -> str:
    """The fixture tree ``.avro_cache/<basename(sf_dir)>_<tag>_<digest>``
    derived from the tables named in ``inputs``, built on first use.
    ``digest`` hashes each input's ``tables.fixture_token`` (path,
    mtime, size), so two scale dirs that share a name, or one input
    rewritten in place, get trees of their own instead of a stale one.
    ``build(tmp)`` fills a fresh ``mkdtemp`` under the cache root, which
    is then published with one same-filesystem rename; a process that
    loses a concurrent race discards its copy. Bump ``tag``'s version
    when the rendition code changes."""
    key = repr([fixture_token(sf_dir, name) for name in inputs])
    digest = hashlib.md5(key.encode()).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(_CACHE_ROOT, f"{base}_{tag}_{digest}")
    if os.path.isdir(root):
        return root
    os.makedirs(_CACHE_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{tag}_", dir=_CACHE_ROOT)
    try:
        build(tmp)
        try:
            os.rename(tmp, root)
        except OSError:
            pass  # another process won the race; its tree is equivalent
        return root
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)


def scratch_dir(name: str) -> str:
    """One REUSED scratch path per op (``.avro_cache/.scratch/<name>``),
    emptied on each call — sinks and round-trip ops write here instead
    of leaking a fresh ``mkdtemp`` per invocation under repeated
    bench/pytest runs."""
    path = os.path.join(_CACHE_ROOT, ".scratch", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# deterministic fixture generation (driver-side, tiny, cached per sf)
# ---------------------------------------------------------------------------


def _orders_records(sf_dir: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    df = pq.read_table(f"{sf_dir}/orders.parquet").to_pandas()
    # The fleet's writer schema is NON-nullable: rows with a NULL in
    # any written field are dead-lettered here exactly as a real
    # Avro ingest would refuse them (NaT also cannot round-trip the
    # int64 date normalization below). Non-finite prices go with them:
    # the typed/ rendition carries o_totalprice as a spec DECIMAL,
    # which has no rendition for NaN/Inf, and one coherent fleet must
    # be representable in EVERY rendition.
    df = df.dropna(subset=ORDERS_COLS)
    import numpy as np

    df = df[np.isfinite(df["o_totalprice"])]
    # pandas 2.x preserves the parquet ms resolution; normalize to µs
    # explicitly rather than assuming ns.
    df["o_orderdate"] = df["o_orderdate"].astype("datetime64[us]").astype("int64")
    return df[ORDERS_COLS]


def _decimal_bytes(price: float) -> bytes:
    """Avro spec decimal encoding of a 2-dp money double: the unscaled
    integer as minimal two's-complement big-endian bytes."""
    unscaled = int(round(price * 100))
    n = max(1, (unscaled.bit_length() + 8) // 8)
    return unscaled.to_bytes(n, "big", signed=True)


def inject_truncate(data: bytes) -> bytes:
    """Cut the file in the middle of its middle block. A header-only
    file (zero-record input partition) has no block to cut — pass it
    through, as do the other block-structure injuries."""
    spans = block_spans(data)
    if not spans:
        return data
    _, payload_start, size, _ = spans[len(spans) // 2]
    return data[: payload_start + size // 2]


def inject_flip(data: bytes) -> bytes:
    """Overwrite the LAST 16 bytes of the first block's payload with
    0xFF. Avro blocks carry no checksum, so a bit-flip inside a double
    is undetectable by ANY reader (including avro-tools) — a detectable
    injury must break structure. A 16-byte 0xFF run always does:
    a varint hits >64-bit continuation, a length overruns the buffer,
    or string content fails utf-8."""
    spans = block_spans(data)
    if not spans:
        return data
    _, payload_start, size, _ = spans[0]
    b = bytearray(data)
    b[payload_start + size - 16 : payload_start + size] = b"\xff" * 16
    return bytes(b)


def inject_bad_sync(data: bytes) -> bytes:
    """Zero out the sync marker trailing the first block."""
    spans = block_spans(data)
    if not spans:
        return data
    end = spans[0][3]
    b = bytearray(data)
    b[end - 16 : end] = b"\x00" * 16
    return bytes(b)


def inject_bad_header(data: bytes) -> bytes:
    """Clobber the magic — schema is unrecoverable."""
    return b"XXXX" + data[4:]


_INJURIES = {1: inject_truncate, 2: inject_flip, 3: inject_bad_sync, 4: inject_bad_header}

# Codec per gen-2 file of the mixed tree (files N_FILES//2 .. N_FILES-1):
# snappy dominates real fleets; bzip2/xz are the Avro 1.8 optional
# codecs avro-tools 1.8.2 (the reference's delegate) also reads.
# zstandard (Avro 1.9+) is implemented in avro_codec but excluded here —
# this container has no zstd binding (see avro_codec._zstd_module).
MIXED_GEN2_CODECS = {4: "snappy", 5: "snappy", 6: "bzip2", 7: "xz"}

# Expected per-file outcome of the deterministic corruption layout.
EXPECTED_VALIDATE = {
    i: ("corrupt" if i in _INJURIES else "healthy") for i in range(N_FILES)
}
EXPECTED_REPAIR = {
    0: ("healthy", 0), 1: ("repaired", 1), 2: ("repaired", 1),
    3: ("repaired", 0), 4: ("unrepairable", -1),
    5: ("healthy", 0), 6: ("healthy", 0), 7: ("healthy", 0),
}


def ensure_avro_fixtures(sf_dir: str) -> str:
    """Generate (once, atomically, cached) the Avro fixture tree for a
    scale factor:

    - ``clean/orders_{0..7}.avro``      — orders split by o_orderkey % 8
    - ``partitioned/year=YYYY/orders.avro`` — Hive-style layout
    - ``corrupt/orders_{0..7}.avro``    — files 1-4 deterministically
      injured (truncate mid-block / byte flips / clobbered sync /
      damaged header), the rest byte-identical to clean
    - ``snappy/orders_{0..7}.avro``     — same content, snappy codec
      (the codec that dominates real Avro fleets)
    - ``mixed/orders_{0..7}.avro``      — files 0-3 written with an OLD
      3-field writer schema (null codec), 4-7 with the current 5-field
      one under the codecs a mixed-age fleet really carries (4-5
      snappy, 6 bzip2, 7 xz — the Avro 1.8 optional codecs avro-tools
      1.8.2, the reference's delegate, reads): the normal state of a
      years-old S3 prefix
    - ``typed/orders_{0..7}.avro``      — decimal-bytes + date-int
      logical-type rendition (deflate codec)
    """
    # v5: bump when fixture layout / injection code changes so stale
    # cached trees from earlier rounds can never leak into results.
    # (v3: added snappy/ and mixed/; v4: added typed/; v5: mixed gen-2
    # files diversified over snappy/bzip2/xz.)
    def build(tmp: str) -> None:
        df = _orders_records(sf_dir)
        clean_dir = os.path.join(tmp, "clean")
        part_dir = os.path.join(tmp, "partitioned")
        corrupt_dir = os.path.join(tmp, "corrupt")
        snappy_dir = os.path.join(tmp, "snappy")
        mixed_dir = os.path.join(tmp, "mixed")
        typed_dir = os.path.join(tmp, "typed")
        os.makedirs(clean_dir)
        os.makedirs(corrupt_dir)
        os.makedirs(snappy_dir)
        os.makedirs(mixed_dir)
        os.makedirs(typed_dir)

        import io

        def ocf_bytes(part, schema, cols, codec):
            recs = (dict(zip(cols, t)) for t in part[cols].itertuples(index=False))
            bio = io.BytesIO()
            write_ocf(bio, schema, recs, codec=codec, block_records=100)
            return bio.getvalue()

        clean_bytes: dict[int, bytes] = {}
        bucket = (df["o_orderkey"] % N_FILES).to_numpy()
        old_cols = [f["name"] for f in OLD_ORDERS_SCHEMA["fields"]]
        for i in range(N_FILES):
            part = df[bucket == i]
            clean_bytes[i] = ocf_bytes(part, ORDERS_SCHEMA, ORDERS_COLS, "null")
            with open(os.path.join(clean_dir, f"orders_{i}.avro"), "wb") as fo:
                fo.write(clean_bytes[i])
            with open(os.path.join(snappy_dir, f"orders_{i}.avro"), "wb") as fo:
                fo.write(ocf_bytes(part, ORDERS_SCHEMA, ORDERS_COLS, "snappy"))
            # mixed generations: first half of the fleet predates the
            # o_orderstatus / o_orderdate columns; the second half spans
            # the optional codecs a mixed-age fleet accumulates
            if i < N_FILES // 2:
                mixed = ocf_bytes(part, OLD_ORDERS_SCHEMA, old_cols, "null")
            else:
                mixed = ocf_bytes(
                    part, ORDERS_SCHEMA, ORDERS_COLS, MIXED_GEN2_CODECS[i]
                )
            with open(os.path.join(mixed_dir, f"orders_{i}.avro"), "wb") as fo:
                fo.write(mixed)
            # logical-type rendition: decimal unscaled-int bytes +
            # date-int days, per the Avro spec's encodings
            typed = pd.DataFrame(
                {
                    "o_orderkey": part["o_orderkey"].to_numpy(),
                    "o_totalprice": [
                        _decimal_bytes(p) for p in part["o_totalprice"]
                    ],
                    "o_orderdate": (
                        part["o_orderdate"] // _US_PER_DAY
                    ).astype("int64"),
                }
            )
            with open(os.path.join(typed_dir, f"orders_{i}.avro"), "wb") as fo:
                fo.write(
                    ocf_bytes(
                        typed, TYPED_ORDERS_SCHEMA, TYPED_ORDERS_COLS, "deflate"
                    )
                )

        for i in range(N_FILES):
            data = clean_bytes[i]
            if i in _INJURIES:
                data = _INJURIES[i](data)
            with open(os.path.join(corrupt_dir, f"orders_{i}.avro"), "wb") as fo:
                fo.write(data)

        os.makedirs(part_dir)  # empty corpus -> empty layout, not a missing dir
        years = pd.to_datetime(df["o_orderdate"], unit="us").dt.year
        for year in sorted(years.unique()):
            ydir = os.path.join(part_dir, f"year={year}")
            os.makedirs(ydir)
            part = df[years == year]
            with open(os.path.join(ydir, "orders.avro"), "wb") as fo:
                fo.write(ocf_bytes(part, ORDERS_SCHEMA, ORDERS_COLS, "null"))

    return _cached_tree(sf_dir, "v5", ("orders",), build)


# ---------------------------------------------------------------------------
# distributed read/write helpers (shared with S group's sink_avro)
# ---------------------------------------------------------------------------


def read_avro_dir(
    spark: SparkSession, path: str, schema: dict, spark_schema: str
) -> DataFrame:
    """Strict distributed Avro scan, one Spark job over the container
    files under ``path``, cut into byte ranges by Spark's split size
    (``avro_jobs.spark_units``, the CLI's unit rule): every record read
    as ``schema`` (Avro schema resolution; the writer's own decoder when
    they are equal), columns named positionally by ``spark_schema`` (a
    logical-type column can surface under a clearer name, …_us).
    Corruption fails the task (scan semantics; use avro_validate /
    avro_repair for tolerant reads). Each task reads the blocks its
    ranges own through the DataSource's bounded window
    (``avro_datasource.read_container``), never a whole file."""
    from .avro_datasource import read_container

    units = spark_units(spark, _list_container_files_sized(path))
    return run_units(spark, units, partial(read_container, reader=schema), spark_schema)


def write_avro_dir(
    df: DataFrame, out_dir: str, schema: dict, codec: str = "null"
) -> int:
    """Distributed Avro sink: each partition's rows (the columns named
    by ``schema``'s fields) go through ``mapInArrow`` into ONE container
    file, committed atomically by ``avro_datasource.write_part``, the
    same writer as ``format("avro_ocf")``. ``out_dir`` may be a local
    path, ``file://``, ``s3://`` or any URI ``fsio`` (pyarrow.fs)
    resolves: no executor-local path assumption. Returns the number of
    partitions written (an empty one leaves no file)."""
    import pyarrow as pa

    from .. import fsio
    from .avro_datasource import write_part

    names = [f["name"] for f in schema["fields"]]
    # Dead-letter gate: a row with NULL in a NON-nullable field cannot
    # be encoded (the codec rightly refuses); drop it here instead of
    # failing the whole write task — the behavior a real Avro ingest
    # applies to schema-violating records.
    def _nullable(ftype) -> bool:
        return isinstance(ftype, list) and any(
            b == "null" or (isinstance(b, dict) and b.get("type") == "null")
            for b in ftype
        )

    required = [
        f["name"] for f in schema["fields"] if not _nullable(f["type"])
    ]
    if required:
        df = df.na.drop(subset=required)
    fsio.ensure_dir(out_dir)

    def write(batches):
        # the schema's columns, picked in the task: a DataFrame select
        # would cost the driver an analysis per call
        batches = (b.select(names) for b in batches)
        path, n = write_part(batches, out_dir, schema, codec)
        yield pa.record_batch({"path": [path], "n_records": [n]})

    report = df.mapInArrow(write, "path string, n_records long")
    # One job: a count() under AQE adds a final one-row aggregate job.
    return len(report.collect())


@contextlib.contextmanager
def _window(path: str, size: int):
    """A fresh :class:`ByteWindow` over the container at ``path``
    (``size`` bytes): ``_CHUNK``-byte reads, never the whole file."""
    from .. import fsio

    fs_, p = fsio.resolve(path)
    with fs_.open_input_file(p) as f:
        yield ByteWindow(f, size)


def _strict_count(path: str, size: int) -> int:
    """The records of one container, counted by the strict walk with the
    count-only block decoder: damage raises exactly where a strict read
    (``avro_datasource.read_container``) would, but no record is built."""
    with _window(path, size) as win:
        schema, codec, sync, pos = win.read_header()
        walk = salvage_blocks(
            win, schema, codec, sync, pos,
            decode=compile_decoder(schema, build=False), strict=True,
        )
        return sum(n_records for _, n_records, *_ in walk)


def _sampled_status(path: str, size: int) -> list[tuple]:
    """avro_validate_sampled's row for one file."""
    with _window(path, size) as win:
        healthy, _, _ = sampled_validate(win)
    return [(os.path.basename(path), "healthy" if healthy else "corrupt")]


def _stats_row(path: str, size: int) -> list[tuple]:
    """avro_stats's row for one file: block headers only."""
    with _window(path, size) as win:
        nb, nr, _ = block_stats(win)
    return [(int(re.search(r"orders_(\d+)\.avro", path).group(1)), nr, nb)]


def _schema_row(path: str, size: int) -> list[tuple]:
    """avro_schema_report's row for one file: the header, then block
    headers only."""
    with _window(path, size) as win:
        schema, codec, _, _ = win.read_header()
        _, n_records, _ = block_stats(win)
    fields = [f["name"] for f in schema["fields"]]
    gen = "gen2" if "o_orderstatus" in fields else "gen1"
    return [(gen, codec, len(fields), n_records)]


def _salvage(path: str, size: int) -> SalvageResult:
    """Count-only block salvage of one whole file, read through a
    bounded window."""
    from .. import fsio

    fs_, p = fsio.resolve(path)
    with fs_.open_input_file(p) as f:
        return salvage_range(f, size, 0, size)


def _outcome(res: SalvageResult) -> tuple[str, int]:
    """(status, lost blocks) of a salvage: -1 lost for an unrepairable
    (header-less) file."""
    return res.status, -1 if res.status == "unrepairable" else res.n_blocks_bad


def _repair_row(path: str, size: int) -> list[tuple]:
    """avro_repair's report row of one file: failures isolated per file."""
    return [(os.path.basename(path), *_outcome(_salvage(path, size)))]


# ---------------------------------------------------------------------------
# registered ops
# ---------------------------------------------------------------------------


@register(
    "avro_scan",
    group="E",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us
    FROM orders WHERE {ORDERS_CLEAN_WHERE}
    """,
)
def avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container scan -> DataFrame (reference A7's download step,
    distributed). Hash-checked against the parquet ground truth — the
    full codec round-trip (write in fixtures, read here) must be
    value-exact including the timestamp-micros logical type."""
    root = ensure_avro_fixtures(sf_dir)
    return read_avro_dir(
        spark, os.path.join(root, "clean"), ORDERS_SCHEMA, ORDERS_SPARK_SCHEMA
    )


@register(
    "avro_scan_snappy",
    group="E",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us
    FROM orders WHERE {ORDERS_CLEAN_WHERE}
    """,
)
def avro_scan_snappy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snappy-codec container scan — the codec that dominates real Avro
    fleets (avro-tools, the reference's engine, reads it natively;
    repair-avro.ts:21). The repo codec implements the Avro spec's
    snappy framing (raw snappy + big-endian CRC32 of the uncompressed
    block) over pyarrow's bundled snappy — the only codec whose blocks
    are checksummed, so silent payload damage is detectable here and
    nowhere else. Hash-checked against the parquet ground truth."""
    root = ensure_avro_fixtures(sf_dir)
    return read_avro_dir(
        spark, os.path.join(root, "snappy"), ORDERS_SCHEMA, ORDERS_SPARK_SCHEMA
    )


MIXED_READER_SCHEMA = {
    "type": "record",
    "name": "order",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_totalprice", "type": "double"},
        # absent from generation-1 files -> default; present in gen-2
        {"name": "o_orderstatus", "type": "string", "default": "NA"},
    ],
}


@register(
    "avro_scan_mixed",
    group="E",
    oracle=f"""
    SELECT o_orderkey, o_totalprice,
           -- floor-mod: the generator buckets with numpy % (sign of
           -- DIVISOR); SQL % follows the dividend and flips on
           -- negative keys (negative-keys sweep)
           CASE WHEN ((o_orderkey % 8) + 8) % 8 >= {N_FILES // 2}
                THEN o_orderstatus
                ELSE 'NA' END AS o_orderstatus
    FROM orders WHERE {ORDERS_CLEAN_WHERE}
    """,
)
def avro_scan_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-schema tree scan: one pass over a directory whose
    files were written YEARS apart with different writer schemas (and
    codecs — gen-1 null; gen-2 snappy/bzip2/xz, the optional codecs a
    mixed-age fleet accumulates), each file self-describing, each
    resolved to TODAY'S reader schema per the Avro spec's Schema
    Resolution rules. This is the reference's schema-agnostic read
    (avro-tools just reads whatever the file declares,
    repair-avro.ts:131) generalized to a typed DataFrame: gen-1 files
    lack o_orderstatus so the reader default fills it; both generations
    skip their reader-unknown fields byte-exactly. The normal state of
    a years-old S3 prefix — scanned in ONE distributed pass, no
    per-generation manifest needed."""
    root = ensure_avro_fixtures(sf_dir)
    return read_avro_dir(
        spark, os.path.join(root, "mixed"), MIXED_READER_SCHEMA,
        "o_orderkey long, o_totalprice double, o_orderstatus string",
    )


@register(
    "avro_scan_logical",
    group="E",
    oracle=f"""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
             AS totalprice_dec,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate_day
    FROM orders WHERE {ORDERS_CLEAN_WHERE}
    """,
)
def avro_scan_logical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logical-type container scan: decimal and date, the two Avro
    logical types the micros-long fixtures don't exercise, decoded per
    the spec's encodings — decimal = two's-complement big-endian
    unscaled-int bytes at a declared (precision, scale); date = int
    days since the epoch. avro-tools (the reference's engine) reads
    both natively; a scan that surfaced raw bytes/ints would be
    dropping declared semantics on the floor.

    The rendering runs in the same read that decodes the values — each
    task's byte ranges, cut like ``read_avro_dir``'s — with no second
    Python pass and no shuffle. Output is canonical
    strings on BOTH engines (the repo's no-raw-DATE/DECIMAL output
    discipline): Python ``Decimal(unscaled).scaleb(-2)`` prints exactly
    like DuckDB's ``DECIMAL(18,2) -> VARCHAR``, and ISO dates are
    unambiguous. The
    fixture rendition is deflate-compressed, so this op also exercises
    codec x logical-type together.

    The materialization itself happens at the CODEC level
    (``avro_codec.materialize_logical`` over each raw value): the
    rendering receives ``Decimal`` / ``datetime.date`` values — the same
    typed values the codec's logical WRITE path (encode_value over
    Decimal / date / datetime) accepts for a full round-trip
    (tests/test_avro_codec.py)."""
    from ..avro_codec import materialize_logical

    root = ensure_avro_fixtures(sf_dir)
    _, price_t, date_t = (f["type"] for f in TYPED_ORDERS_SCHEMA["fields"])

    def scan(*unit):
        from .avro_datasource import read_container

        for key, price, day in read_container(*unit, TYPED_ORDERS_SCHEMA):
            yield (
                key,
                str(materialize_logical(price_t, price)),
                materialize_logical(date_t, day).isoformat(),
            )

    units = spark_units(spark, _list_container_files_sized(os.path.join(root, "typed")))
    return run_units(
        spark, units, scan, "o_orderkey long, totalprice_dec string, orderdate_day string"
    )


@register(
    "avro_scan_partitioned",
    group="E",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS year,
           COUNT(*) AS n
    FROM orders WHERE {ORDERS_CLEAN_WHERE} GROUP BY 1
    """,
)
def avro_scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition layout (the reference's ``data=YYYY-MM-DD``
    prefix convention, repair-avro.ts:92): the partition value is
    carried by the PATH, not the file bytes — pruning a year touches
    zero bytes of the other years' objects."""
    root = ensure_avro_fixtures(sf_dir)

    def count_records(path, size):
        return [(re.search(r"year=(\d+)", path).group(1), _strict_count(path, size))]

    per_file = run_files(
        spark, os.path.join(root, "partitioned"), count_records, "year string, n_file long"
    )
    return per_file.groupBy("year").agg(F.sum("n_file").alias("n"))


_VALIDATE_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('orders_{i}.avro', '{EXPECTED_VALIDATE[i]}')" for i in range(N_FILES)
) + ") AS t(file, status)"


@register("avro_validate", group="E", oracle=_VALIDATE_ORACLE)
def avro_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file health report over the corruption fixture set — the
    reference's ``analyze()`` (repair-avro.ts:126-142) with strict FULL
    decode instead of its 1% sample (a sampled pass can miss corruption
    in unsampled blocks; at scale honesty beats the shortcut, and the
    work spreads over byte-balanced per-core bins). The oracle pins the
    exact deterministic outcome of the injected corruption."""
    root = ensure_avro_fixtures(sf_dir)

    def validate(path, size):
        healthy = _salvage(path, size).healthy
        return [(os.path.basename(path), "healthy" if healthy else "corrupt")]

    return run_files(
        spark, os.path.join(root, "corrupt"), validate, "file string, status string"
    )


@register("avro_validate_sampled", group="E", oracle=_VALIDATE_ORACLE)
def avro_validate_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL validation mode: sampled, not exhaustive
    (``--limit 1000000 --samplerate .01``, repair-avro.ts:131). Decodes
    ~1% of blocks (systematic 1-in-100, deterministic) while the
    structural walk still covers every block — so all four injected
    corruption classes here are still caught (truncation/size/sync are
    structural; the payload stomp sits in block 0, which is always
    sampled) and the oracle is the same VALUES table as the strict op.
    The honest caveat the reference accepts: payload-only damage in an
    unsampled block passes. ~100x less Python decode work per file."""
    root = ensure_avro_fixtures(sf_dir)
    return run_files(
        spark, os.path.join(root, "corrupt"), _sampled_status, "file string, status string"
    )


_REPAIR_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('orders_{i}.avro', '{s}', {lost})" for i, (s, lost) in EXPECTED_REPAIR.items()
) + ") AS t(file, status, lost_blocks)"


@register("avro_repair", group="E", oracle=_REPAIR_ORACLE)
def avro_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-salvage repair report (reference ``repair()``,
    repair-avro.ts:144-164): per file, keep every decodable block,
    resync past damaged sync markers, count lost blocks; a damaged
    header is unrepairable (-1). Failures never abort the run —
    contrast the reference's whole-run try/catch (:72-74)."""
    root = ensure_avro_fixtures(sf_dir)
    return run_files(
        spark, os.path.join(root, "corrupt"), _repair_row,
        "file string, status string, lost_blocks int",
    )


@register(
    "avro_rewrite",
    group="E",
    oracle=f"""
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS max_odate_us
    FROM orders WHERE {ORDERS_CLEAN_WHERE}
    """,
)
def avro_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full write-back round-trip (reference upload, repair-avro.ts:118-124,
    but with an explicit output URI — its bucket-string bug is SURVEY
    §2A's latent defect). DataFrame -> deflate-compressed container
    files (one per partition, tmp + atomic rename) -> strict re-scan ->
    aggregate, hash-checked against the source-of-truth parquet."""
    out = scratch_dir("avro_rewrite")
    o = clean_orders(table(spark, sf_dir, "orders")).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        # NTZ -> TS cast is exact under the UTC session tz the registry
        # wrapper enforces; unix_micros then matches DuckDB's epoch_us.
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate"),
    )
    write_avro_dir(o, out, ORDERS_SCHEMA, codec="deflate")
    back = read_avro_dir(spark, out, ORDERS_SCHEMA, ORDERS_SPARK_SCHEMA)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "sum_price"),
        F.max("o_orderdate_us").alias("max_odate_us"),
    )


_STATUS_COUNTS: dict[str, int] = {}
for _s, _ in EXPECTED_REPAIR.values():
    _STATUS_COUNTS[_s] = _STATUS_COUNTS.get(_s, 0) + 1
_REPORT_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('{s}', {n})" for s, n in sorted(_STATUS_COUNTS.items())
) + ") AS t(status, n_files)"


@register("pipeline_report", group="E", oracle=_REPORT_ORACLE)
def pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-run summary the reference only ever logged line-by-line
    (repair-avro.ts:58,64 + progress bar): outcome -> file count, as a
    queryable DataFrame. Composes avro_repair's per-file report."""
    root = ensure_avro_fixtures(sf_dir)
    per_file = run_files(
        spark, os.path.join(root, "corrupt"), _repair_row,
        "file string, status string, lost_blocks int",
    )
    return per_file.groupBy("status").agg(F.count(F.lit(1)).alias("n_files"))


EVOLVED_READER_SCHEMA = {
    "type": "record",
    "name": "order",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        # promotion: writer double -> reader double (identity) kept;
        # o_custkey/o_orderstatus/o_orderdate are SKIPPED (writer-only)
        {"name": "o_totalprice", "type": "double"},
        # reader-only field filled from its default
        {"name": "region", "type": "string", "default": "UNKNOWN"},
    ],
}


@register(
    "avro_scan_evolved",
    group="E",
    oracle=f"""
    SELECT o_orderkey, o_totalprice, 'UNKNOWN' AS region
    FROM orders WHERE {ORDERS_CLEAN_WHERE}
    """,
)
def avro_scan_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: the files were written with the full
    5-field writer schema; this scan reads them under TODAY'S reader
    schema (avro_codec.compile_resolved_decoder, Avro spec §Schema
    Resolution): writer-only fields are skipped byte-exactly by a
    generated skipper that builds nothing for them, and the reader-only
    ``region`` field takes its declared default. This is the read path
    that lets one 100 TB pass apply a current schema to years of
    heterogeneously-written objects — a capability the reference
    inherits from avro-tools and we implement in-codec."""
    root = ensure_avro_fixtures(sf_dir)
    return read_avro_dir(
        spark, os.path.join(root, "clean"), EVOLVED_READER_SCHEMA,
        "o_orderkey long, o_totalprice double, region string",
    )


@register(
    "avro_scan_projected",
    group="E",
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE {ORDERS_CLEAN_WHERE}
    """,
)
def avro_scan_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned container scan: decode ONLY the projected fields
    by reading under a reader schema that is a 2-field subset of the
    5-field writer schema — the Schema Resolution plan
    (avro_codec.compile_resolved_decoder) skips each run of unselected
    fields with one call of a generated skipper, byte-exactly and
    without materializing a single Python value for them.
    This is predicate-free column pruning pushed INTO the Avro decode:
    parquet gets it from the format's columnar layout, row-oriented
    Avro only gets it by skipping, and at 100 TB a 2-of-5-field read
    cuts the Python/Arrow materialization (the scan's dominant cost —
    the bytes are read either way) proportionally. The reference's
    avro-tools delegate has no projected read at all: its ``cat``
    always decodes full records."""
    root = ensure_avro_fixtures(sf_dir)
    projected = {
        "type": "record",
        "name": ORDERS_SCHEMA["name"],
        "fields": [
            f
            for f in ORDERS_SCHEMA["fields"]
            if f["name"] in ("o_orderkey", "o_totalprice")
        ],
    }
    return read_avro_dir(
        spark, os.path.join(root, "clean"), projected, "o_orderkey long, o_totalprice double"
    )


@register(
    "avro_stats",
    group="E",
    oracle=f"""
    SELECT CAST(((o_orderkey % 8) + 8) % 8 AS BIGINT) AS file_idx,
           COUNT(*) AS n_records,
           CAST(CEIL(COUNT(*) / 100.0) AS BIGINT) AS n_blocks
    FROM orders WHERE {ORDERS_CLEAN_WHERE} GROUP BY 1
    """,
)
def avro_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-metadata audit: per-file block/record counts read from
    block HEADERS only (avro_codec.block_stats) — payloads are never
    decoded, so the pass is O(#blocks) per object. This is the fleet
    census the reference has no equivalent of (it can only fully decode
    via avro-tools, repair-avro.ts:130-131): at 100 TB you run this
    first, and only files whose stats look wrong get the expensive
    validate/repair treatment. The oracle knows the exact layout
    because fixture generation is deterministic: bucket = o_orderkey %
    8, writer flushes every 100 records."""
    root = ensure_avro_fixtures(sf_dir)
    return run_files(
        spark, os.path.join(root, "clean"), _stats_row,
        "file_idx long, n_records long, n_blocks long",
    )


@register(
    "avro_compact",
    group="E",
    oracle=f"""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders WHERE {ORDERS_CLEAN_WHERE} GROUP BY o_orderstatus
    """,
)
def avro_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container compaction: the 8 per-bucket fixture files are
    decoded distributed, repartitioned to 2, and rewritten as 2 larger
    containers through the same codec (deflate), then read back and
    aggregated — content preservation through a full
    decode/shuffle/encode cycle is what the hash proves. This is the
    Avro-side twin of compact_small_files and the missing maintenance
    half of the reference (it rewrites objects 1:1, never consolidates;
    repair-avro.ts:118-124). At 100 TB: group files per partition to
    ~128 MB targets; the codec path is identical."""
    root = ensure_avro_fixtures(sf_dir)
    src = read_avro_dir(
        spark, os.path.join(root, "clean"), ORDERS_SCHEMA, ORDERS_SPARK_SCHEMA
    )
    out = scratch_dir("avro_compact")
    compact_schema = {
        "type": "record",
        "name": "order_c",
        "fields": [
            {"name": "o_orderkey", "type": "long"},
            {"name": "o_orderstatus", "type": "string"},
            {"name": "o_totalprice", "type": "double"},
        ],
    }
    slim = src.select("o_orderkey", "o_orderstatus", "o_totalprice").repartition(2)
    write_avro_dir(slim, out, compact_schema, codec="deflate")
    back = read_avro_dir(
        spark, out, compact_schema,
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price")
    )


@register(
    "avro_schema_report",
    group="E",
    oracle=f"""
    WITH bucketed AS (
      SELECT ((o_orderkey % {N_FILES}) + {N_FILES}) % {N_FILES} AS b, *
      FROM orders WHERE {ORDERS_CLEAN_WHERE}
    )
    SELECT CASE WHEN b < {N_FILES // 2} THEN 'gen1' ELSE 'gen2' END
             AS generation,
           CASE WHEN b < {N_FILES // 2} THEN 'null'
                WHEN b IN (4, 5) THEN 'snappy'
                WHEN b = 6 THEN 'bzip2'
                ELSE 'xz' END AS codec,
           CASE WHEN b < {N_FILES // 2} THEN 3 ELSE 5 END AS n_fields,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS n_files,
           COUNT(*) AS n_records
    FROM bucketed
    GROUP BY 1, 2, 3
    """,
)
def avro_schema_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet schema inventory WITHOUT decoding a value: per writer
    generation (schema shape × codec), how many files and records a
    mixed tree holds. Header + block-header walk only (``block_stats``
    skips every payload), so the pass is O(#blocks) per object — the
    audit you run over a years-old 100 TB prefix BEFORE deciding which
    generations need migration, at roughly listing cost.

    The reference can only discover a file's schema by reading it
    (avro-tools getschema, one JVM per object); here the whole fleet
    inventory is one distributed pass whose oracle is exact because the
    fixture assigns generations deterministically (o_orderkey % 8)."""
    root = ensure_avro_fixtures(sf_dir)
    per_file = run_files(
        spark, os.path.join(root, "mixed"), _schema_row,
        "generation string, codec string, n_fields int, n_rec long",
    )
    return per_file.groupBy("generation", "codec", "n_fields").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rec").alias("n_records"),
    )
