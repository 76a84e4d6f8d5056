"""CLI contract: the reference's run loop (validate -> repair ->
re-validate -> conditional replace) as one distributed job."""

from __future__ import annotations

import contextlib
import io
import os
import shutil

import pyarrow.parquet as pq
import pytest

from s3_avro_repair_spark.avro_codec import salvage_ocf
from s3_avro_repair_spark.cli import _build_report, main
from s3_avro_repair_spark.sources.avro_jobs import _n_bins, _pack_bins, spark_units
from s3_avro_repair_spark.sources.avro_pipeline import ensure_avro_fixtures


def test_cli_repairs_and_revalidates(spark, sf_dir, tmp_path):
    root = ensure_avro_fixtures(sf_dir)
    indir = tmp_path / "in"
    outdir = tmp_path / "out"
    shutil.copytree(os.path.join(root, "corrupt"), indir)
    outdir.mkdir()

    report, n_files = _build_report(spark, str(indir), False, str(outdir))
    rows = report.toPandas().set_index("file")
    assert n_files == len(rows) == 8

    statuses = rows["status"].value_counts().to_dict()
    # The corruption fixture injects: truncation, byte flips, a damaged
    # sync marker, and one destroyed header (see ensure_avro_fixtures).
    assert statuses.get("unrepairable", 0) == 1
    assert statuses.get("repaired", 0) >= 2
    assert statuses.get("healthy", 0) >= 1

    # the reference re-validates after repair (repair-avro.ts:148-149):
    # every repaired file must now salvage as fully healthy, keeping
    # exactly the records the report claimed were salvageable.
    for fname, row in rows[rows.status == "repaired"].iterrows():
        data = (outdir / fname).read_bytes()
        res = salvage_ocf(data)
        assert res.healthy, (fname, res.errors)
        assert len(res.records) == row.records_salvaged

    # healthy and unrepairable files are never rewritten
    written = {p.name for p in outdir.iterdir()}
    assert written == set(rows[rows.status == "repaired"].index)


def test_cli_main_prints_bounded_detail(spark, sf_dir, tmp_path, capsys):
    """main(): the detail table shows only NON-healthy rows (bounded
    slice), the counters cover the full listing, and the report
    pipeline — which repairs files as a side effect — is written once
    and read back, so the counts and the detail table don't run it
    twice."""
    from s3_avro_repair_spark.cli import main

    root = ensure_avro_fixtures(sf_dir)
    indir = tmp_path / "in"
    outdir = tmp_path / "out"
    shutil.copytree(os.path.join(root, "corrupt"), indir)
    outdir.mkdir()
    rc = main(["--path", str(indir), "--out", str(outdir)])
    outtxt = capsys.readouterr().out
    assert rc == 2  # one destroyed header in the corruption fixture
    assert "8 files:" in outtxt
    assert "unrepairable" in outtxt
    # healthy rows never reach the detail table
    for line in outtxt.splitlines():
        if line.strip().startswith("part-") and " healthy" in line:
            raise AssertionError(f"healthy row in detail: {line}")


def test_pack_bins_lpt():
    sizes = [5, 100, 7, 7, 30, 1, 0, 0, 20, 3]
    bins = _pack_bins(sizes, 4)
    # every file lands in exactly one bin, and no bin is empty
    assert sorted(i for b in bins for i in b) == list(range(len(sizes)))
    assert all(bins)
    # the largest file exceeds the mean load (173 / 4), so it sits alone
    assert bins[0] == [1]
    loads = sorted(sum(sizes[i] for i in b) for b in bins)
    assert loads == [21, 22, 30, 100]
    # zero-byte files still spread: one bin per file when bins == files
    assert _pack_bins([0, 0, 0], 3) == [[0], [1], [2]]


def test_n_bins_follows_spark_settings(spark):
    cores = spark.sparkContext.defaultParallelism
    split = 1 << 20
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    try:
        # one bin per core, never more bins than files
        assert _n_bins(spark, 1000, 10) == cores
        assert _n_bins(spark, 3, 10) == min(3, cores)
        # more bytes than a core's splits: one bin per split
        assert _n_bins(spark, 1000, (cores + 5) * split - 1) == cores + 5
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def _corrupt_copy(sf_dir, tmp_path):
    root = ensure_avro_fixtures(sf_dir)
    indir = tmp_path / "in"
    shutil.copytree(os.path.join(root, "corrupt"), indir)
    return indir


def test_main_runs_one_spark_job(spark, sf_dir, tmp_path):
    """List on the driver, repair and write the report in one action,
    read the report back without Spark: one job per run."""
    indir = _corrupt_copy(sf_dir, tmp_path)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "cli-one-job")
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            assert main(["--path", str(indir), "--out", str(tmp_path / "out")]) == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("cli-one-job")
    assert len(jobs) == 1, jobs
    stage = sc.statusTracker().getStageInfo(
        sc.statusTracker().getJobInfo(jobs[0]).stageIds[0]
    )
    assert stage.numTasks <= sc.defaultParallelism


def test_report_reads_back(spark, sf_dir, tmp_path, capsys):
    """--report keeps the per-file parquet report: one row per listed
    file, statuses matching the printed counts."""
    indir = _corrupt_copy(sf_dir, tmp_path)
    report = tmp_path / "report.parquet"
    rc = main(["--path", str(indir), "--report", str(report)])
    summary = capsys.readouterr().out.strip().splitlines()[-1]
    rows = pq.read_table(str(report)).to_pandas()
    assert rc == 2
    assert list(rows.columns) == [
        "file", "status", "blocks_ok", "blocks_resynced", "blocks_lost",
        "records_salvaged", "written_to",
    ]
    assert sorted(rows["file"]) == sorted(p.name for p in indir.iterdir())
    counts = rows["status"].value_counts()
    assert summary == f"{len(rows)} files: " + ", ".join(
        f"{counts.get(s, 0)} {s}" for s in ("healthy", "repaired", "unrepairable")
    )
    # no --out / --replace: nothing is written anywhere
    assert (rows["written_to"] == "").all()


def _record(field_type) -> dict:
    return {
        "type": "record",
        "name": "r",
        "fields": [{"name": "k", "type": "long"}, {"name": "v", "type": field_type}],
    }


_INNER = {"type": "record", "name": "inner", "fields": [{"name": "x", "type": "long"}]}
# A schema key renamed in the written header: (schema, a value of "v", key)
_RENAMED_KEY = {
    "record_without_fields": (_record("long"), 7, "fields"),
    "array_without_items": (_record({"type": "array", "items": "long"}), [1, 2], "items"),
    "map_without_values": (_record({"type": "map", "values": "long"}), {"a": 1}, "values"),
    "enum_without_symbols": (
        _record({"type": "enum", "name": "e", "symbols": ["A", "B"]}), "B", "symbols",
    ),
    "fixed_without_size": (_record({"type": "fixed", "name": "f", "size": 2}), b"ab", "size"),
}


def _uncompilable(case: str) -> bytes:
    """A 3-block container whose blocks are intact and whose header
    schema does not compile: one key of the written schema renamed, or
    (``named_reference``) the header rebuilt around a spec-legal schema
    whose field ``w`` names the record ``inner`` its field ``v``
    defines, the records having been written with ``inner`` inline."""
    from s3_avro_repair_spark.avro_codec import read_header, write_ocf_bytes

    if case == "named_reference":
        inline = _record(_INNER)
        inline["fields"].append({"name": "w", "type": _INNER})
        recs = [{"k": i, "v": {"x": i}, "w": {"x": -i}} for i in range(30)]
        data = write_ocf_bytes(inline, recs, block_records=10)
        _, _, sync, hdr_end = read_header(data)
        named = _record(_INNER)
        named["fields"].append({"name": "w", "type": "inner"})
        return write_ocf_bytes(named, [], sync=sync) + data[hdr_end:]
    schema, value, key = _RENAMED_KEY[case]
    data = write_ocf_bytes(schema, [{"k": i, "v": value} for i in range(30)], block_records=10)
    assert data.count(b'"%s"' % key.encode()) == 1
    return data.replace(b'"%s"' % key.encode(), b'"%sz"' % key[:-1].encode())


def _good_and_uncompilable(sf_dir, indir, case: str) -> bytes:
    good = os.path.join(ensure_avro_fixtures(sf_dir), "clean", "orders_0.avro")
    indir.mkdir()
    shutil.copy(good, indir / "good.avro")
    data = _uncompilable(case)
    (indir / "broken.avro").write_bytes(data)
    return data


@pytest.mark.parametrize("case", [*_RENAMED_KEY, "named_reference"])
def test_uncompilable_schema_is_unrepairable(spark, sf_dir, tmp_path, capsys, case):
    """A container whose header parses but whose schema does not compile
    (a key the codec needs is missing, or a field names an earlier
    record, which the codec does not resolve) is reported unrepairable
    when its header is read: the run goes on, and the good container
    beside it is healthy."""
    from s3_avro_repair_spark.avro_codec import salvage_ocf

    data = _good_and_uncompilable(sf_dir, tmp_path / "in", case)
    res = salvage_ocf(data, keep_records=False)
    assert not res.header_ok and "schema does not compile" in res.errors[0]
    report = tmp_path / "report.parquet"
    rc = main(["--path", str(tmp_path / "in"), "--report", str(report)])
    capsys.readouterr()
    rows = pq.read_table(str(report)).to_pandas()
    assert rc == 2
    assert dict(zip(rows["file"], rows["status"])) == {
        "good.avro": "healthy", "broken.avro": "unrepairable",
    }


def test_uncompilable_schema_survives_replace(spark, sf_dir, tmp_path, capsys):
    """--replace never rewrites a file whose schema does not compile:
    its blocks cannot be checked, so a copy holding only the header
    must not take its place."""
    data = _good_and_uncompilable(sf_dir, tmp_path / "in", "named_reference")
    rc = main(["--path", str(tmp_path / "in"), "--replace"])
    capsys.readouterr()
    assert rc == 2
    assert (tmp_path / "in" / "broken.avro").read_bytes() == data


@pytest.mark.parametrize("form", ["file:{}", "file://{}"])
def test_build_report_accepts_file_uris(spark, sf_dir, tmp_path, form):
    """A URI root reaches the same files: the listing keeps the scheme,
    and each task resolves it back to the local filesystem."""
    indir = _corrupt_copy(sf_dir, tmp_path)
    report, n_files = _build_report(spark, form.format(indir), False, None)
    rows = report.toPandas()
    assert n_files == len(rows) == len(list(indir.iterdir()))
    assert rows["status"].value_counts().get("unrepairable") == 1

# Goldens were captured from the binaryFile + mapInPandas CLI: stdout
# and exit code must not change. The tree sits under a root of fixed
# length, so the padded detail table is byte-comparable once the root
# is replaced by a placeholder of the same length.
_ROOT_LEN = 120


@pytest.mark.parametrize("mode", ["out", "replace"])
def test_stdout_matches_golden(spark, sf_dir, tmp_path, mode):
    golden = os.path.join(
        os.path.dirname(__file__), "golden",
        f"cli_corrupt_{os.path.basename(sf_dir)}_{mode}.txt",
    )
    if not os.path.exists(golden):
        pytest.skip(f"no golden for {sf_dir}")
    root = tmp_path / ("g" * (_ROOT_LEN - len(str(tmp_path)) - 1))
    assert len(str(root)) == _ROOT_LEN
    indir = _corrupt_copy(sf_dir, root)
    args = ["--path", str(indir)]
    args += ["--replace"] if mode == "replace" else ["--out", str(root / "out")]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(args)
    got = f"rc={rc}\n" + buf.getvalue().replace(str(root), "<ROOT>".ljust(_ROOT_LEN, "_"))
    with open(golden) as f:
        assert got == f.read()


def test_units_follow_spark_split_size(spark):
    """The unit size is Spark's split size over the whole input: files
    at or below it stay whole, a larger file is cut into equal ranges
    that tile it."""
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1000")
    spark.conf.set("spark.sql.files.openCostInBytes", "100")
    try:
        sizes = [2500, 0, 1000, 999, 1]
        # Spark's split size: 4500 bytes over max(cores, ceil(4500 /
        # maxPartitionBytes)) bins, at least openCostInBytes
        unit = min(1000, max(100, -(-4500 // max(cores, 5))))
        units = spark_units(spark, list(enumerate(sizes)))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
    for i, size in enumerate(sizes):
        mine = [(s, e) for f, s, e, _ in units if f == i]
        assert len(mine) == max(1, -(-size // unit))
        assert mine[0][0] == 0 and mine[-1][1] == size
        assert all(a[1] == b[0] for a, b in zip(mine, mine[1:]))
        assert max(e - s for s, e in mine) - min(e - s for s, e in mine) <= 1


def _main_jobs(spark, args) -> tuple[str, int, int]:
    """main(args) under a job group: (stdout, exit code, Spark jobs)."""
    sc = spark.sparkContext
    group = f"cli-jobs-{abs(hash(tuple(args)))}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            rc = main(args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return buf.getvalue(), rc, len(sc.statusTracker().getJobIdsForGroup(group))


def _tree_bytes(d) -> dict[str, bytes]:
    return {
        os.path.relpath(os.path.join(r, n), d): open(os.path.join(r, n), "rb").read()
        for r, _, names in os.walk(d)
        for n in names
    }


@pytest.mark.parametrize("mode", ["out", "replace"])
def test_split_units_match_unsplit_run(spark, sf_dir, tmp_path, mode):
    """With split settings low enough that every fixture file is cut
    into byte ranges, the CLI prints the golden output byte for byte and
    writes the same repaired bytes as an unsplit run. Damaged split
    files are rewritten by a second job: 2 jobs with --out/--replace, 1
    without, and 1 when only healthy files are split."""
    golden = os.path.join(
        os.path.dirname(__file__), "golden",
        f"cli_corrupt_{os.path.basename(sf_dir)}_{mode}.txt",
    )
    if not os.path.exists(golden):
        pytest.skip(f"no golden for {sf_dir}")
    flag = ["--replace"] if mode == "replace" else None

    def args_for(root):
        indir = root / "in"
        return ["--path", str(indir)] + (flag or ["--out", str(root / "out")])

    plain = tmp_path / "plain"
    _corrupt_copy(sf_dir, plain)
    with contextlib.redirect_stdout(io.StringIO()):
        main(args_for(plain))

    root = tmp_path / ("g" * (_ROOT_LEN - len(str(tmp_path)) - 1))
    assert len(str(root)) == _ROOT_LEN
    indir = _corrupt_copy(sf_dir, root)
    count_only = _corrupt_copy(sf_dir, tmp_path / "count")
    healthy = tmp_path / "healthy"
    healthy.mkdir()
    for name in ("orders_0.avro", "orders_5.avro", "orders_6.avro", "orders_7.avro"):
        shutil.copy(indir / name, healthy / name)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    try:
        sizes = [p.stat().st_size for p in indir.iterdir()]
        units = spark_units(spark, list(enumerate(sizes)))
        split = {f for f, s, e, _ in units if (s, e) != (0, sizes[f])}
        assert split == set(range(len(sizes)))
        text, rc, jobs = _main_jobs(spark, args_for(root))
        _, rc_count, jobs_count = _main_jobs(spark, ["--path", str(count_only)])
        _, rc_healthy, jobs_healthy = _main_jobs(
            spark, ["--path", str(healthy), "--out", str(tmp_path / "healthy_out")]
        )
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
    got = f"rc={rc}\n" + text.replace(str(root), "<ROOT>".ljust(_ROOT_LEN, "_"))
    with open(golden) as f:
        assert got == f.read()
    written = "out" if mode == "out" else "in"
    assert _tree_bytes(root / written) == _tree_bytes(plain / written)
    assert jobs == 2
    assert (rc_count, jobs_count) == (2, 1)
    assert (rc_healthy, jobs_healthy) == (0, 1)
    assert not os.listdir(tmp_path / "healthy_out")
