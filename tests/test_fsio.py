"""URI-agnostic write path: every executor-side byte must go through
pyarrow.fs (fsio), never raw ``os.*`` — the reference's I/O surface is
an object store (repair-avro.ts:37-40,106-124), so a local-path
assumption in the sink is a silent cluster breakage."""

from __future__ import annotations

import os
import shutil

import pytest
from pyarrow import fs as pafs

from s3_avro_repair_spark import fsio
from s3_avro_repair_spark.avro_codec import read_ocf, write_ocf
from s3_avro_repair_spark.cli import _build_report
from s3_avro_repair_spark.sources.avro_pipeline import (
    ensure_avro_fixtures,
    read_avro_dir,
    write_avro_dir,
)

_SCHEMA = {
    "type": "record",
    "name": "kv",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "v", "type": "string"},
    ],
}


def test_resolve_handles_spark_file_uris(tmp_path):
    for uri in (f"file:{tmp_path}", f"file://{tmp_path}", f"file:///{str(tmp_path).lstrip('/')}"):
        fs_, p = fsio.resolve(uri)
        assert isinstance(fs_, pafs.LocalFileSystem), uri
        assert p == str(tmp_path), uri


def test_atomic_write_through_subtree_fs(tmp_path):
    """The commit helpers must work against an ARBITRARY pyarrow
    FileSystem — SubTreeFileSystem rebases all paths, so any raw os.*
    call inside would miss the sandbox or fail outright."""
    sub = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())

    got, n = fsio.atomic_stream_records("a.bin", lambda out: out.write(b"payload"), filesystem=sub)
    assert (got, n) == ("a.bin", 7)
    assert (tmp_path / "a.bin").read_bytes() == b"payload"
    assert not (tmp_path / "a.bin.tmp").exists()

    # streamed OCF with conditional commit: records -> committed
    recs = [{"k": i, "v": f"r{i}"} for i in range(250)]
    fsio.ensure_dir("d", filesystem=sub)
    _, n = fsio.atomic_stream_records(
        "d/part.avro",
        lambda out: write_ocf(out, _SCHEMA, iter(recs), codec="deflate"),
        filesystem=sub,
    )
    assert n == 250
    _, back = read_ocf((tmp_path / "d" / "part.avro").read_bytes())
    assert back == recs

    # zero records -> nothing committed, tmp removed
    _, n = fsio.atomic_stream_records(
        "d/empty.avro",
        lambda out: write_ocf(out, _SCHEMA, iter(()), codec="null"),
        filesystem=sub,
    )
    assert n == 0
    assert sorted(p.name for p in (tmp_path / "d").iterdir()) == ["part.avro"]


def test_task_attempts_write_disjoint_temp_files(tmp_path, monkeypatch):
    """Inside a task the temp file is named by the task attempt: two
    overlapping attempts of one task on one target write two temp
    files, so the failing attempt's cleanup and late close leave its
    retry's committed bytes alone. Sharing one ``.tmp`` would let the
    dying attempt's buffered bytes land in the committed file."""
    from pyspark import TaskContext

    class Attempt:
        def __init__(self, n):
            self.n = n

        def taskAttemptId(self):
            return self.n

    attempt = [Attempt(7)]
    monkeypatch.setattr(TaskContext, "get", lambda: attempt[0])
    target = str(tmp_path / "part-00000.avro")
    temps = []

    def retry(out):
        temps.append(sorted(p.name for p in tmp_path.iterdir()))
        return out.write(b"retry")

    def dying(out):
        out.write(b"partial")
        attempt[0] = Attempt(8)  # the retry overlaps it and commits first
        fsio.atomic_stream_records(target, retry)
        raise RuntimeError("attempt 7 dies after its retry committed")

    with pytest.raises(RuntimeError):
        fsio.atomic_stream_records(target, dying)
    assert temps == [["part-00000.avro.tmp-7", "part-00000.avro.tmp-8"]]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["part-00000.avro"]
    assert (tmp_path / "part-00000.avro").read_bytes() == b"retry"


def test_write_avro_dir_accepts_file_uri(spark, tmp_path):
    """End-to-end distributed sink addressed by URI, not local path:
    write via file://, read back strict, values intact."""
    df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    out_uri = f"file://{tmp_path}/sink"
    n_files = write_avro_dir(df.repartition(4), out_uri, _SCHEMA, codec="deflate")
    assert n_files == 4
    back = read_avro_dir(spark, str(tmp_path / "sink"), _SCHEMA, "k long, v string")
    rows = back.orderBy("k").collect()
    assert len(rows) == 1000
    assert rows[17].k == 17 and rows[17].v == "17"
    assert not list((tmp_path / "sink").glob("*.tmp"))


def test_cli_out_preserves_relative_paths(spark, sf_dir, tmp_path):
    """Two same-named repairable files in different subdirectories must
    land in DISTINCT --out subpaths (a flat basename layout lets the
    last task win silently)."""
    root = ensure_avro_fixtures(sf_dir)
    src = os.path.join(root, "corrupt", "orders_1.avro")  # truncated: repairable
    indir = tmp_path / "in"
    (indir / "day=1").mkdir(parents=True)
    (indir / "day=2").mkdir(parents=True)
    shutil.copy(src, indir / "day=1" / "orders.avro")
    shutil.copy(src, indir / "day=2" / "orders.avro")
    outdir = tmp_path / "out"

    report, n_files = _build_report(spark, str(indir), False, str(outdir))
    rows = report.toPandas()
    assert n_files == 2
    assert (rows["status"] == "repaired").all()
    assert (outdir / "day=1" / "orders.avro").is_file()
    assert (outdir / "day=2" / "orders.avro").is_file()
    written = sorted(rows["written_to"])
    assert written[0].endswith("day=1/orders.avro")
    assert written[1].endswith("day=2/orders.avro")


def test_events_loader_handles_both_ts_generations(spark, sf_dir, tmp_path):
    """The driver has shipped events.ts as BOTH parquet TIMESTAMP(NANOS)
    (read as raw-nanos BIGINT under nanosAsLong) and timestamp[us]
    (read as TIMESTAMP_NTZ). tables.table() must normalize either to a
    session-zone TIMESTAMP with identical microsecond values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from s3_avro_repair_spark.tables import table

    # Current-generation fixture, whatever it is.
    cur = table(spark, sf_dir, "events")
    assert cur.schema["ts"].dataType.simpleString() == "timestamp"

    # Synthesize a nanos-generation rendition of the same rows and
    # check value-level equality through the loader.
    src = pq.read_table(f"{sf_dir}/events.parquet")
    ts_idx = src.schema.get_field_index("ts")
    ns = src.set_column(
        ts_idx, "ts", src.column("ts").cast(pa.timestamp("ns"))
    )
    nsdir = tmp_path / "events_ns"
    nsdir.mkdir()
    pq.write_table(ns, str(nsdir / "events.parquet"))
    old = table(spark, str(tmp_path / "events_ns"), "events")
    assert old.schema["ts"].dataType.simpleString() == "timestamp"

    a = cur.select("event_id", "ts").orderBy("event_id").limit(50).collect()
    b = old.select("event_id", "ts").orderBy("event_id").limit(50).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
