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
from s3_avro_repair_spark.cli import _build_report, _n_bins, _pack_bins, main
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
