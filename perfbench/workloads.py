"""The benchmark's workloads.

Each workload prepares its inputs from the seed, runs named ops as one
closed-loop client (an op is built, then executed to completion, before
the next starts), and checks its outputs once per process, outside the
timers. A registry op's result is collected to pandas, as a client would
receive it, so the checked pass and the timed passes run the same plans;
the fleet workload runs the CLI in-process, beside registered Avro
write and strict-scan ops.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import time
import traceback

import bench
import gen

# Fixed subsets of the legacy harness's tiers, run as one workload and
# sized so that a warm pass takes about 9 s on four cores (see
# README.md, "Sizing").
ANALYTICS_OPS = [
    "agg_groupby", "join_sort_merge", "window_topk_per_group", "fn_json",
    "text_tfidf", "q_local_supplier", "q_forecast_revenue",
]
DEDUP_OPS = ["dedup_near", "dedup_substring", "dedup_semantic"]
# Avro writes beside strict scans, run in the fleet workload next to
# the CLI: the S group's mapInPandas sink with its strict mapInPandas
# read-back, the Python DataSource sink, and the Python DataSource
# scan. Three of the eleven registered write/scan ops: all eleven make
# a run of their own about 54 s on four cores (a 13 s pass after a
# 30 s first pass), more than the run budget allows.
AVRO_OPS = ["sink_avro", "sink_avro_datasource", "avro_scan_datasource"]
AVRO_GROUPS = ("E", "S")
FLEET_OP = "cli_repair"


def io_metrics(out_dir: str, input_bytes: int, cli_jobs: float = 0,
               counts: dict[str, int] | None = None) -> dict[str, float]:
    """The ``cli.*`` and ``fsio.*`` per-layer metrics: CLI jobs and
    status counts, and the files and bytes committed under ``out_dir``."""
    files = size = 0
    for root, _dirs, names in os.walk(out_dir):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    counts = counts or {}
    return {
        "cli.jobs": cli_jobs,
        "cli.files_healthy": counts.get("healthy", 0),
        "cli.files_repaired": counts.get("repaired", 0),
        "cli.files_unrepairable": counts.get("unrepairable", 0),
        "fsio.files_committed": files,
        "fsio.bytes_written": size,
        "fsio.write_amp": size / input_bytes if input_bytes else 0.0,
    }


class RegistryWorkload:
    """Registered ops over seeded fixture tables."""

    def __init__(self, name: str, ops: list[str], avro_fixtures: bool = False):
        self.name = name
        self.ops = list(ops)
        self.geomean_ops = self.ops
        self.throughput_op: str | None = None
        self.avro_fixtures = avro_fixtures
        self.sf_dir = ""
        self.input_bytes = 0
        self.registry: dict = {}
        self.first_walls: dict[str, float] = {}

    def prepare(self, spark, seed: int, work_dir: str) -> None:
        from s3_avro_repair_spark.plans.registry import load_all

        self.registry = load_all()
        missing = [n for n in self.ops if n not in self.registry]
        if missing:
            raise KeyError(f"ops not registered: {missing}")
        if self.avro_fixtures:
            other = [n for n in self.ops if self.registry[n].group not in AVRO_GROUPS]
            if other:
                raise KeyError(f"not Avro write/scan ops: {other}")
        self.sf_dir = work_dir
        self.input_bytes = gen.write_tables(seed, work_dir)
        if self.avro_fixtures:
            from s3_avro_repair_spark.sources.avro_pipeline import ensure_avro_fixtures

            ensure_avro_fixtures(work_dir)
        shutil.rmtree(self.scratch, ignore_errors=True)

    @property
    def scratch(self) -> str:
        """Where the package's sink ops write (``avro_pipeline.scratch_dir``)."""
        import s3_avro_repair_spark

        root = os.path.dirname(os.path.dirname(s3_avro_repair_spark.__file__))
        return os.path.join(root, ".avro_cache", ".scratch")

    def io_counts(self, records: list[dict]) -> dict[str, float]:
        return io_metrics(self.scratch, self.input_bytes)

    def reset(self, op: str) -> None:
        pass

    def build(self, spark, op: str):
        return self.registry[op].fn(spark, self.sf_dir)

    def execute(self, spark, op: str, df):
        return df.toPandas()

    def warm_and_check(self, spark) -> tuple[int, int, dict[str, int]]:
        """Run every op once and compare its rows with its DuckDB
        oracle. Returns (attempted, failed, rows per op)."""
        from tools.verify_local import compare, duck_connection

        con = duck_connection(self.sf_dir)
        failed = 0
        rows: dict[str, int] = {}
        for op in self.ops:
            try:
                t0 = time.perf_counter()
                got = self.execute(spark, op, self.build(spark, op))
                self.first_walls[op] = time.perf_counter() - t0
                rows[op] = len(got)
                oracle = self.registry[op].oracle
                problems = (
                    compare(op, got, con.execute(oracle).fetchdf()) if oracle else []
                )
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                failed += 1
                print(f"perfbench: {op} check FAILED: {problems}", file=sys.stderr)
        con.close()
        return len(self.ops), failed, rows

    def codec_inputs(self) -> list[bytes]:
        """The workload's orders table encoded as one container, for the
        single-thread codec probe."""
        import pyarrow.parquet as pq

        from s3_avro_repair_spark.avro_codec import write_ocf_bytes
        from s3_avro_repair_spark.sources.avro_pipeline import ORDERS_COLS, ORDERS_SCHEMA

        tab = pq.read_table(os.path.join(self.sf_dir, "orders.parquet"), columns=ORDERS_COLS)
        tab = tab.set_column(
            4, "o_orderdate", tab.column("o_orderdate").cast("int64"))
        return [write_ocf_bytes(ORDERS_SCHEMA, tab.to_pylist())]


class FleetWorkload:
    """The CLI's validate -> salvage -> rewrite job over a seeded fleet,
    then the Avro write and strict-scan ops over the seeded tables.
    ``mb_s`` is the CLI's throughput and ``op_geomean_s`` covers the
    Avro ops, so a change that speeds salvage but slows the sink or the
    strict scan moves the two apart."""

    def __init__(self, cores: int):
        self.name = "fleet_repair"
        self.avro = RegistryWorkload(self.name, AVRO_OPS, avro_fixtures=True)
        self.ops = [FLEET_OP] + AVRO_OPS
        self.geomean_ops = AVRO_OPS
        self.throughput_op = FLEET_OP
        self.cores = cores
        self.fleet_dir = self.out_dir = ""
        self.manifest: dict = {}
        self.input_bytes = 0
        self.last: tuple[int, str] = (0, "")
        self.first_walls: dict[str, float] = {}

    def prepare(self, spark, seed: int, work_dir: str) -> None:
        """Tables (and the Avro fixture trees cut from them) in
        ``work_dir``, the fleet in ``work_dir/fleet``; ``input_bytes``
        is the fleet's size."""
        self.avro.prepare(spark, seed, work_dir)
        self.fleet_dir = os.path.join(work_dir, "fleet")
        self.out_dir = os.path.join(work_dir, "out")
        self.manifest = gen.write_fleet(seed, self.fleet_dir)
        self.input_bytes = self.manifest["bytes"]

    def reset(self, op: str) -> None:
        if op == FLEET_OP:
            shutil.rmtree(self.out_dir, ignore_errors=True)

    def build(self, spark, op: str):
        return None if op == FLEET_OP else self.avro.build(spark, op)

    def execute(self, spark, op: str, df):
        if op != FLEET_OP:
            return self.avro.execute(spark, op, df)
        from s3_avro_repair_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(["--path", self.fleet_dir, "--out", self.out_dir,
                           "--cpus", str(self.cores)])
        self.last = (rc, buf.getvalue())

    def io_counts(self, records: list[dict]) -> dict[str, float]:
        """From the traced CLI run: its jobs, status counts and the
        repaired copies it committed."""
        jobs = sum(r["exec_jobs"] for r in records if r["op"] == FLEET_OP)
        return io_metrics(self.out_dir, self.input_bytes, jobs, self.summary())

    def summary(self) -> dict[str, int]:
        """Per-status file counts from the CLI's last summary line."""
        line = self.last[1].strip().splitlines()[-1]
        _total, _, rest = line.partition(" files: ")
        out = {}
        for part in rest.split(", "):
            n, status = part.split(" ")
            out[status] = int(n)
        return out

    def warm_and_check(self, spark) -> tuple[int, int, dict[str, int]]:
        """The CLI run checked against the fleet's manifest, then the
        Avro ops against their DuckDB oracles. Returns (attempted,
        failed, rows per op)."""
        attempted, failed, rows = self._check_cli(spark)
        more, more_failed, avro_rows = self.avro.warm_and_check(spark)
        self.first_walls.update(self.avro.first_walls)
        return attempted + more, failed + more_failed, {**rows, **avro_rows}

    def _check_cli(self, spark) -> tuple[int, int, dict[str, int]]:
        """One CLI run, checked against the manifest: the per-status
        counts, each non-healthy file's status and salvaged records,
        and each repaired copy's record count. A misclassified file
        counts as failed."""
        files = self.manifest["files"]
        self.reset(FLEET_OP)
        try:
            t0 = time.perf_counter()
            self.execute(spark, FLEET_OP, None)
            self.first_walls[FLEET_OP] = time.perf_counter() - t0
            rc, text = self.last
            reported = _detail_rows(text)
        except Exception:
            print(f"perfbench: cli run FAILED\n{traceback.format_exc()}", file=sys.stderr)
            return len(files), len(files), {FLEET_OP: 0}
        failed = 0
        for rel, want in files.items():
            got = reported.get(os.path.basename(rel), ("healthy", want["records"]))
            ok = got == (want["status"], want["records"])
            if ok and want["status"] == "repaired":
                copy = os.path.join(self.out_dir, rel)
                ok = os.path.exists(copy) and _records(copy) == want["records"]
            if not ok:
                failed += 1
                print(f"perfbench: {rel} expected {want['status']}/{want['records']},"
                      f" got {got}", file=sys.stderr)
        want_counts: dict[str, int] = {}
        for f in files.values():
            want_counts[f["status"]] = want_counts.get(f["status"], 0) + 1
        want_rc = 2 if "unrepairable" in want_counts else 0
        if (rc, self.summary()) != (want_rc, want_counts):
            failed += 1
            print(f"perfbench: cli exit {rc} counts {self.summary()}, expected"
                  f" {want_rc} {want_counts}", file=sys.stderr)
        return len(files) + 1, failed, {FLEET_OP: len(reported)}

    def codec_inputs(self) -> list[bytes]:
        """The fleet's smaller files (about 1 MB, largest excluded, so
        the probe's share of a traced run stays small)."""
        out, total = [], 0
        for rel, meta in sorted(self.manifest["files"].items(),
                                key=lambda kv: (kv[1]["blocks"], kv[0])):
            if total + meta["bytes"] > 1_000_000:
                break
            with open(os.path.join(self.fleet_dir, rel), "rb") as f:
                out.append(f.read())
            total += meta["bytes"]
        return out


def _records(path: str) -> int:
    from s3_avro_repair_spark.avro_codec import block_stats

    with open(path, "rb") as f:
        return block_stats(f.read())[1]


def _detail_rows(text: str) -> dict[str, tuple[str, int]]:
    """{file: (status, records_salvaged)} from the CLI's detail table."""
    lines = text.strip().splitlines()
    out = {}
    for line in lines[1:]:
        cols = line.split()
        if len(cols) >= 6 and cols[1] in ("repaired", "unrepairable", "healthy"):
            out[cols[0]] = (cols[1], int(cols[5]))
    return out


def make(name: str, cores: int):
    """The named workload; op lists are checked against ``bench.py``'s
    tiers so they cannot drift from the legacy harness."""
    if name == "analytics_mix":
        _subset(ANALYTICS_OPS, bench.HEADLINE)
        _subset(DEDUP_OPS, bench.SECONDARY)
        return RegistryWorkload(name, ANALYTICS_OPS + DEDUP_OPS)
    if name == "fleet_repair":
        return FleetWorkload(cores)
    raise KeyError(f"unknown workload {name!r}")


def _subset(ops: list[str], tier: list[str]) -> None:
    extra = [n for n in ops if n not in tier]
    if extra:
        raise KeyError(f"ops missing from bench.py's tier: {extra}")
