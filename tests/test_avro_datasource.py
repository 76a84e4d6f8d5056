"""Python DataSource (format "avro_ocf") — unit tests beyond the
oracle-parity sweep: self-describing schema inference, strictness on
corruption, and the one-partition-per-file planning contract."""

from __future__ import annotations

import glob
import json
import os

import pytest

from s3_avro_repair_spark.avro_codec import write_ocf_bytes
from s3_avro_repair_spark.sources.avro_datasource import (
    _field_ddl,
    _list_container_files_sized,
    mount,
)

SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "x", "type": "double"},
    ],
}


def _write_tree(tmp, n_files=3, rows_per=10):
    d = tmp / "tree"
    d.mkdir()
    for i in range(n_files):
        recs = [
            {"k": i * 100 + j, "s": f"v{j}" if j % 2 else None, "x": j / 2}
            for j in range(rows_per)
        ]
        (d / f"part-{i}.avro").write_bytes(write_ocf_bytes(SCHEMA, recs))
    return str(d)


def test_inferred_schema_and_values(spark, tmp_path):
    d = _write_tree(tmp_path)
    df = spark.read.format(mount(spark)).load(d)
    # nullable union inferred to its branch; names from the header
    assert df.schema.simpleString() == "struct<k:bigint,s:string,x:double>"
    rows = {r.k: (r.s, r.x) for r in df.collect()}
    assert len(rows) == 30
    assert rows[205] == ("v5", 2.5)
    assert rows[204] == (None, 2.0)


def test_inferred_schema_from_large_header(spark, tmp_path):
    """A header past any fixed head size still infers: a record of 2000
    ``long`` fields carries a schema JSON of about 117 KiB, and the
    schema is read through a growing prefix of the file."""
    names = [f"wide_record_column_number_{i:04d}" for i in range(2000)]
    wide = {"type": "record", "name": "wide",
            "fields": [{"name": n, "type": "long"} for n in names]}
    assert len(json.dumps(wide)) > 110_000
    d = tmp_path / "wide"
    d.mkdir()
    recs = [{n: r * 10_000 + i for i, n in enumerate(names)} for r in range(3)]
    (d / "part-0.avro").write_bytes(write_ocf_bytes(wide, recs))
    df = spark.read.format(mount(spark)).load(str(d))
    assert df.columns == names
    assert {t for _, t in df.dtypes} == {"bigint"}
    rows = sorted(tuple(r) for r in df.select(names[0], names[-1]).collect())
    assert rows == [(0, 1999), (10_000, 11_999), (20_000, 21_999)]


def test_one_partition_per_file(spark, tmp_path):
    d = _write_tree(tmp_path, n_files=4)
    df = (
        spark.read.format(mount(spark))
        .schema("k long, s string, x double")
        .load(d)
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 40


def test_corruption_fails_the_scan(spark, tmp_path):
    """Strict scan semantics, like avro_scan: a torn container fails
    the task rather than silently dropping rows (tolerant reads are
    avro_validate/avro_repair's job)."""
    d = _write_tree(tmp_path, n_files=2)
    f = sorted(glob.glob(os.path.join(d, "*.avro")))[0]
    data = bytearray(open(f, "rb").read())
    data[len(data) // 2] ^= 0xFF  # flip a payload byte mid-block
    open(f, "wb").write(bytes(data))
    df = (
        spark.read.format(mount(spark))
        .schema("k long, s string, x double")
        .load(d)
    )
    with pytest.raises(Exception):
        df.count()


def test_inference_refuses_complex_types():
    with pytest.raises(ValueError):
        _field_ddl({"type": "array", "items": "long"})
    with pytest.raises(ValueError):
        _field_ddl(["null", "long", "string"])  # multi-branch union
    # logical types surface as their raw carrier
    assert _field_ddl({"type": "long", "logicalType": "timestamp-micros"}) == "long"


def test_listing_single_file(tmp_path):
    d = _write_tree(tmp_path, n_files=1)
    f = os.path.join(d, "part-0.avro")
    assert _list_container_files_sized(f) == [(f, os.path.getsize(f))]
    assert len(_list_container_files_sized(d)) == 1


def test_listing_matches_spark_file_index(spark, tmp_path):
    """The driver-side lister lists what binaryFile lists: hidden and
    underscore names below the root are skipped (partition directories
    and _metadata kept), the hidden root itself is not, and the paths
    keep the input's scheme."""
    from s3_avro_repair_spark import fsio

    root = tmp_path / ".cache" / "tree"
    for rel in (
        "a.avro", "sub/b.avro", "d=1/ok.avro", "_d=2/p.avro",
        "_metadata/m.avro", "_tmp/x.avro", ".staging/y.avro",
        "d=1/_z.avro", "d=1/.w.avro", "sub/c.avro._COPYING_", "sub/notes.txt",
    ):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_bytes(b"x")
    spark_paths = {
        fsio.resolve(r.path)[1]
        for r in spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .option("recursiveFileLookup", "true")
        .load(str(root))
        .select("path")
        .collect()
    }
    listed = [p for p, _ in _list_container_files_sized(str(root))]
    assert set(listed) == spark_paths
    assert spark_paths == {
        str(root / rel)
        for rel in ("a.avro", "sub/b.avro", "d=1/ok.avro", "_d=2/p.avro", "_metadata/m.avro")
    }
    uri = f"file://{root}"
    sized = _list_container_files_sized(uri)
    assert all(p.startswith(f"file://{root}/") and n == 1 for p, n in sized)
    assert {fsio.resolve(p)[1] for p, _n in sized} == spark_paths


def test_write_read_roundtrip_with_nulls(spark, tmp_path):
    """The DataSource write path: nullable columns become
    ["null", T] unions, NULL cells round-trip, one container per
    partition, and mode("overwrite") replaces prior output."""
    from s3_avro_repair_spark.sources.avro_datasource import mount

    d = str(tmp_path / "out")
    fmt = mount(spark)
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, None), (3, "c", -0.25)],
        "k long, s string, x double",
    ).repartition(2)
    df.write.format(fmt).mode("overwrite").save(d)
    files = glob.glob(os.path.join(d, "*.avro"))
    assert len(files) == 2
    back = spark.read.format(fmt).load(d)
    assert {tuple(r) for r in back.collect()} == {
        (1, "a", 1.5), (2, None, None), (3, "c", -0.25)
    }
    # overwrite replaces, never appends
    df.limit(1).coalesce(1).write.format(fmt).mode("overwrite").save(d)
    assert spark.read.format(fmt).load(d).count() == 1


def test_write_avro_dir_keeps_nulls_and_exact_longs(spark, tmp_path):
    """write_avro_dir feeds the codec Arrow records: a null in a
    ["null", "long"] or ["null", "double"] field stays null and a long
    past 2**53 stays exact. Rows that went through pandas turned the
    long column into float64 (10 became 10.0, which no union branch
    takes) and the double's null into NaN."""
    from s3_avro_repair_spark.avro_codec import read_ocf
    from s3_avro_repair_spark.sources.avro_pipeline import write_avro_dir

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "a", "type": ["null", "long"]},
            {"name": "b", "type": ["null", "double"]},
        ],
    }
    big = (1 << 60) + 1
    rows = [(1, 10, None), (2, None, 0.5), (3, big, None), (big, None, -2.25)]
    df = spark.createDataFrame(rows, "k long, a long, b double").coalesce(1)
    out = tmp_path / "out"
    assert write_avro_dir(df, str(out), schema) == 1
    [part] = out.glob("*.avro")
    _, recs = read_ocf(part.read_bytes())
    assert [(r["k"], r["a"], r["b"]) for r in recs] == rows


def test_write_avro_dir_and_datasource_write_the_same_files(spark, tmp_path):
    """One container writer: the same partitions written by
    write_avro_dir and by format("avro_ocf"), under the schema the
    DataSource derives and the null codec, are byte-identical files."""
    from s3_avro_repair_spark.sources.avro_datasource import _avro_schema_for
    from s3_avro_repair_spark.sources.avro_pipeline import write_avro_dir

    df = spark.range(0, 2500, 1, numPartitions=3).selectExpr(
        "id AS k",
        "IF(id % 3 = 0, NULL, CAST(id AS STRING)) AS s",
        "IF(id % 5 = 0, NULL, id / 4) AS x",
    )
    schema = _avro_schema_for(df.schema)
    assert [f["type"] for f in schema["fields"]] == [
        "long", ["null", "string"], ["null", "double"]
    ]
    assert write_avro_dir(df, str(tmp_path / "sink"), schema) == 3
    df.write.format(mount(spark)).mode("overwrite").save(str(tmp_path / "ds"))

    def parts(name):
        return {p.name: p.read_bytes() for p in (tmp_path / name).glob("*.avro")}

    sink = parts("sink")
    assert sorted(sink) == [f"part-0000{i}.avro" for i in range(3)]
    assert sink == parts("ds")


def test_write_refuses_complex_columns(spark, tmp_path):
    from s3_avro_repair_spark.sources.avro_datasource import mount

    fmt = mount(spark)
    df = spark.createDataFrame([([1, 2],)], "a array<int>")
    with pytest.raises(Exception, match="unsupported column type"):
        df.write.format(fmt).mode("overwrite").save(str(tmp_path / "o"))


def _codecs() -> list[str]:
    """Every codec ``write_ocf`` writes here: zstandard only with a
    zstd binding importable."""
    from s3_avro_repair_spark.avro_codec import CorruptHeader, _zstd_module

    codecs = ["null", "deflate", "snappy", "bzip2", "xz"]
    try:
        _zstd_module()
    except CorruptHeader:
        return codecs
    return codecs + ["zstandard"]


_SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")


def _split_scan(spark, d, via: str, split: int | None = None):
    """The strict scan of the containers under ``d`` through ``via``,
    cut into units of ``split`` bytes (``None``: the default unit). The
    DataSource takes the unit as its ``split_size_bytes`` option;
    ``read_avro_dir`` cuts by Spark's split size, which is exactly
    ``split`` with maxPartitionBytes = openCostInBytes = ``split``."""
    ddl = "k long, s string, x double"
    if via == "datasource":
        rd = spark.read.format(mount(spark)).schema(ddl)
        if split:
            rd = rd.option("split_size_bytes", split)
        return rd.load(str(d))
    from s3_avro_repair_spark.sources.avro_pipeline import read_avro_dir

    if split:
        for key in _SPLIT_CONFS:
            spark.conf.set(key, str(split))
    try:
        return read_avro_dir(spark, str(d), SCHEMA, ddl)
    finally:
        for key in _SPLIT_CONFS:
            spark.conf.unset(key)


@pytest.mark.parametrize("via", ["datasource", "read_avro_dir"])
def test_block_range_splits_byte_identical(spark, tmp_path, via):
    """A single large container plans as N>1 byte-range partitions
    (sync-marker resync at read time) and returns exactly the rows of
    the whole-file read — the splittable-reader contract — for
    every codec. Small block_records forces many blocks so ranges land
    mid-file, mid-block and mid-sync; three split sizes sweep the
    boundary alignments. ``read_avro_dir`` cuts the file by Spark's
    split size, pinned to each split, so each range is a task of its
    own."""
    recs = [
        {"k": i, "s": f"v{i}" if i % 3 else None, "x": i / 8.0}
        for i in range(5000)
    ]
    for codec in _codecs():
        d = tmp_path / codec
        d.mkdir()
        raw = write_ocf_bytes(SCHEMA, recs, block_records=50, codec=codec)  # ~100 blocks
        (d / "one.avro").write_bytes(raw)
        base = _split_scan(spark, d, via)
        want = sorted(map(tuple, base.collect()))
        assert base.rdd.getNumPartitions() == 1  # default split >= file size
        for split in (4096, 1111, 333):
            df = _split_scan(spark, d, via, split)
            if via == "datasource":
                assert df.rdd.getNumPartitions() == -(-len(raw) // split)
            else:
                assert df.rdd.getNumPartitions() > 1
            assert sorted(map(tuple, df.collect())) == want


def test_block_range_split_streams_bounded_batches(spark, tmp_path):
    """read() must yield MULTIPLE bounded RecordBatches for a range
    holding more than _BATCH_ROWS records — never one whole-range
    batch (the r9 verdict's whole-file-buffer flag). Drive the reader
    directly so the batch boundaries are observable."""
    from s3_avro_repair_spark.sources import avro_datasource as ds

    d = tmp_path / "stream"
    d.mkdir()
    recs = [{"k": i, "s": None, "x": 0.0} for i in range(1000)]
    (d / "one.avro").write_bytes(write_ocf_bytes(SCHEMA, recs, block_records=10))
    import pyarrow as pa

    reader = ds.AvroOCFReader(
        {"path": str(d)},
        [("k", pa.int64()), ("s", pa.string()), ("x", pa.float64())],
    )
    old = ds._BATCH_ROWS
    ds._BATCH_ROWS = 64
    try:
        parts = reader.partitions()
        assert len(parts) == 1
        batches = list(reader.read(parts[0]))
    finally:
        ds._BATCH_ROWS = old
    assert len(batches) >= 1000 // 74  # 64-row floor + <=1 trailing block
    assert all(b.num_rows <= 64 + 10 for b in batches)
    assert sum(b.num_rows for b in batches) == 1000


@pytest.mark.parametrize("via", ["datasource", "read_avro_dir"])
def test_corruption_fails_split_scans_too(spark, tmp_path, via):
    """Strictness survives splitting: a torn payload byte fails the
    scan at every split size, exactly like the whole-file read."""
    from s3_avro_repair_spark.avro_codec import block_spans

    d = tmp_path / "torn"
    d.mkdir()
    recs = [{"k": i, "s": "a", "x": 1.0} for i in range(500)]
    raw = bytearray(write_ocf_bytes(SCHEMA, recs, block_records=25))
    spans = block_spans(bytes(raw))
    _, pstart, psize, _end = spans[len(spans) // 2]
    raw[pstart + psize] ^= 0xFF  # tear a mid-file sync marker
    (d / "one.avro").write_bytes(bytes(raw))
    for split in (None, 1024):
        # match= pins that the TORN SYNC is what failed the scan — a
        # bare raises(Exception) would also pass on any incidental
        # reader bug (TypeError, IndexError) and prove nothing
        # (ADVICE r10). CorruptBlock surfaces via PythonException, so
        # the message text is the practical pin.
        with pytest.raises(Exception, match="sync marker damaged|block@"):
            _split_scan(spark, d, via, split).count()


@pytest.mark.parametrize("via", ["datasource", "read_avro_dir"])
def test_single_split_above_chunk_reads_chunked(tmp_path, monkeypatch, request, via):
    """The whole-file read is bounded by ``avro_codec._CHUNK``: a
    one-split container no larger than a chunk is read at once, a larger
    one goes through the chunked window — which never holds the file —
    and returns the same rows. ``read_avro_dir`` runs the same file
    through a Spark job: its task reads with the workers' own
    ``_CHUNK``, so that arm checks the rows only — the bounded read is
    ``read_container``, the function both arms call."""
    import pyarrow as pa

    from s3_avro_repair_spark import avro_codec
    from s3_avro_repair_spark.sources import avro_datasource as ds

    d = tmp_path / "one"
    d.mkdir()
    recs = [
        {"k": i, "s": f"row-{i}" if i % 3 else None, "x": i / 8.0}
        for i in range(20000)
    ]
    raw = write_ocf_bytes(SCHEMA, recs, block_records=100)
    (d / "one.avro").write_bytes(raw)
    held = []
    ensure = avro_codec.ByteWindow.ensure

    def spy(self, pos, to):
        ensure(self, pos, to)
        held.append(len(self.buf))

    monkeypatch.setattr(avro_codec.ByteWindow, "ensure", spy)

    if via == "datasource":
        reader = ds.AvroOCFReader(
            {"path": str(d)}, [("k", pa.int64()), ("s", pa.string()), ("x", pa.float64())]
        )
        (part,) = reader.partitions()

        def rows():
            held.clear()
            return [
                tuple(r.values())
                for b in reader.read(part)
                for r in b.to_pylist()
            ]
    else:
        from s3_avro_repair_spark.sources.avro_pipeline import read_avro_dir

        spark = request.getfixturevalue("spark")

        def rows():
            df = read_avro_dir(spark, str(d), SCHEMA, "k long, s string, x double")
            return [tuple(r) for r in df.collect()]

    want = [(r["k"], r["s"], r["x"]) for r in recs]
    assert rows() == want
    if via == "datasource":
        assert max(held) == len(raw)  # one chunk covers it: read at once
    monkeypatch.setattr(avro_codec, "_CHUNK", 4096)
    assert len(raw) > 4 * 64 * 1024  # well past the header prefix too
    assert rows() == want
    if via == "datasource":
        assert max(held) < len(raw) // 4
