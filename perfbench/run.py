#!/usr/bin/env python3
"""Benchmark of the s3_avro_repair_spark engine.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process drives one workload on a
``local[<nproc>]`` session as a closed loop with one client:

1. set-up, five times, each on a fresh input directory: (re)start the
   SparkSession, generate the seeded inputs, prepare fixtures; the
   median round is ``setup_s``;
2. one untimed pass that warms the session and checks every output
   (DuckDB oracles, or the fleet's manifest);
3. timed passes over the ops in a seeded order until ``--seconds``
   have elapsed;
4. with ``--trace 1``, one more pass with per-op, per-layer tracing,
   written to ``.perfbench/traces/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer ones). See README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
SETUP_ROUNDS = 5
DEADLINE_S = 170

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "mb_s": "MB/s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "tables.calls": "count", "tables.s": "s", "tables.jobs": "count",
    "build.s": "s", "build.self_s": "s", "build.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.core_utilization": "ratio",
    "exec.max_task_s": "s", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count", "exec.join_output_rows": "count",
    "exec.join_rows_per_output_row": "ratio",
    "py.rows": "count", "py.bytes_sent": "bytes", "py.bytes_received": "bytes",
    "avro_codec.salvage_mb_s": "MB/s", "avro_codec.strict_decode_mb_s": "MB/s",
    "avro_codec.sampled_validate_mb_s": "MB/s", "avro_codec.encode_mb_s": "MB/s",
    "cli.jobs": "count", "cli.files_healthy": "count", "cli.files_repaired": "count",
    "cli.files_unrepairable": "count", "fsio.files_committed": "count",
    "fsio.bytes_written": "bytes", "fsio.write_amp": "ratio",
    "env.calib_s": "s", "trace.overhead_frac": "ratio",
    "check.failed_frac": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="1g")
    return ap.parse_args(argv)


def pin_environment(work: str, driver_memory: str) -> None:
    """Everything the run writes stays under ``work``; Python workers
    import the package from the checkout; the session uses every core
    this process may run on, not the package's 32-thread default."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # No perf-data files: a JVM would write them under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-memory", shlex.quote(driver_memory),
        # The heap is committed and touched up front, so peak_rss_mb
        # moves with memory outside this fixed heap (off-heap buffers,
        # Python workers), not with the collector's growth heuristics.
        "--driver-java-options", shlex.quote(
            f"-Djava.io.tmpdir={tmp} -Xms{driver_memory} -XX:+AlwaysPreTouch"
            " -XX:-UsePerfData"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    sys.path[:0] = [ROOT, HERE]


def start_session():
    from s3_avro_repair_spark.plans.registry import load_all
    from s3_avro_repair_spark.session import get_session

    spark = get_session("perfbench", master=f"local[{CORES}]")
    spark.sparkContext.setLogLevel("ERROR")
    load_all()
    return spark


def remove_inputs(work: str) -> None:
    """Inputs of this run and the fixture trees the package cached for
    them (keyed by the input directory's name)."""
    shutil.rmtree(os.path.join(work, "in"), ignore_errors=True)
    cache = os.path.join(ROOT, ".avro_cache")
    if os.path.isdir(cache):
        for name in os.listdir(cache):
            if name.startswith("pb-"):
                shutil.rmtree(os.path.join(cache, name), ignore_errors=True)


def stop_everything() -> None:
    """Stop the session and the JVM it runs in, and wait until every
    process this one started has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from probes import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while True:
        rest = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


class Tracer:
    """Per-op spans from outside the program: build (``op.fn``), the
    ``tables.table`` calls inside it, Catalyst phases, and execution,
    each with the Spark jobs it launched (told apart by job group)."""

    def __init__(self):
        self.active = False
        self.probe = None
        self.group: str | None = None
        self.tables_calls = 0
        self.tables_s = 0.0
        self.serial = 0

    def wrap_tables(self) -> None:
        """Replace ``tables.table`` before any op module binds it."""
        from s3_avro_repair_spark import tables

        inner = tables.table

        def table(spark, sf_dir, name):
            if not self.active:
                return inner(spark, sf_dir, name)
            outer = self.group
            self._set_group(f"tables:{self.serial}")
            t0 = time.perf_counter()
            try:
                return inner(spark, sf_dir, name)
            finally:
                self.tables_s += time.perf_counter() - t0
                self.tables_calls += 1
                self._set_group(outer)

        tables.table = table

    def _set_group(self, group):
        self.group = group
        self.probe.set_group(group)

    def run_op(self, wl, spark, op: str) -> dict:
        from probes import catalyst_ms

        self.serial += 1
        self.tables_calls, self.tables_s = 0, 0.0
        wl.reset(op)
        t0 = time.perf_counter()
        self._set_group(f"build:{self.serial}")
        try:
            df = wl.build(spark, op)
        finally:
            self._set_group(None)
        t1 = time.perf_counter()
        catalyst = catalyst_ms(df) if df is not None else {}
        first_exec = self.probe.executions_count()
        self._set_group(f"exec:{self.serial}")
        t3 = time.perf_counter()
        try:
            wl.execute(spark, op, df)
        finally:
            t4 = time.perf_counter()
            self._set_group(None)
        self.probe.drain()
        tables_jobs = self.probe.job_ids(f"tables:{self.serial}")
        build_jobs = self.probe.job_ids(f"build:{self.serial}") + tables_jobs
        exec_jobs = self.probe.job_ids(f"exec:{self.serial}")
        rec = {
            "op": op,
            # build_s + probe_s + exec_s == wall_s: the op's traced span,
            # with the Catalyst probe the only part that is not the op's.
            "wall_s": t4 - t0,
            "build_s": t1 - t0,
            "probe_s": t3 - t1,
            "exec_s": t4 - t3,
            "coverage": (t1 - t0 + t4 - t3) / (t4 - t0),
            "tables_calls": self.tables_calls,
            "tables_s": self.tables_s,
            "tables_jobs": len(tables_jobs),
            "build_jobs": len(build_jobs),
            "exec_jobs": len(exec_jobs),
            "catalyst_ms": catalyst,
            "exec": self.probe.stage_totals(exec_jobs),
            "plan": self.probe.plan_totals(first_exec),
        }
        rec["collect_s"] = time.perf_counter() - t4
        return rec


def timed_passes(wl, spark, order: list[str], seconds: float):
    """Closed loop, one client: full passes over ``order`` until
    ``seconds`` have elapsed (at least one pass). An op that raises is
    counted and skipped. Returns (pass walls, op walls by op,
    ops attempted, ops failed)."""
    op_times: dict[str, list[float]] = {op: [] for op in order}
    passes: list[float] = []
    attempted = failed = 0
    end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < end:
        walls = []
        for op in order:
            wl.reset(op)
            attempted += 1
            t0 = time.perf_counter()
            try:
                wl.execute(spark, op, wl.build(spark, op))
            except Exception:
                failed += 1
                print(f"perfbench: {op} FAILED\n{traceback.format_exc()}", file=sys.stderr)
                continue
            walls.append(time.perf_counter() - t0)
            op_times[op].append(walls[-1])
        passes.append(sum(walls))
    return passes, op_times, attempted, failed


def codec_probe(containers: list[bytes]) -> dict[str, float]:
    """Single-thread MB/s of the codec's four entry points on the given
    containers: salvage, strict decode (healthy ones), sampled
    validation, and re-encoding of what salvage recovered."""
    from s3_avro_repair_spark.avro_codec import (
        read_ocf,
        salvage_ocf,
        sampled_validate,
        write_ocf_bytes,
    )

    def rate(nbytes, seconds):
        return nbytes / 1e6 / seconds if seconds > 0 else 0.0

    t0 = time.perf_counter()
    salvaged = [(c, salvage_ocf(c)) for c in containers]
    t1 = time.perf_counter()
    healthy = [c for c, r in salvaged if r.healthy]
    for c in healthy:
        read_ocf(c)
    t2 = time.perf_counter()
    for c in containers:
        sampled_validate(c)
    t3 = time.perf_counter()
    encoded = sum(len(write_ocf_bytes(r.schema, r.records))
                  for _, r in salvaged if r.header_ok)
    t4 = time.perf_counter()
    return {
        "avro_codec.salvage_mb_s": rate(sum(map(len, containers)), t1 - t0),
        "avro_codec.strict_decode_mb_s": rate(sum(map(len, healthy)), t2 - t1),
        "avro_codec.sampled_validate_mb_s": rate(sum(map(len, containers)), t3 - t2),
        "avro_codec.encode_mb_s": rate(encoded, t4 - t3),
    }


def calibration_s(spark) -> float:
    """Fixed pure-Spark CPU probe (``bench.calibration_probe``'s query,
    sized for this machine's cores): min of two runs."""
    best = math.inf
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, 50_000_000 * CORES, 1, CORES).selectExpr(
            "bit_xor(xxhash64(id)) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def layer_metrics(records, wl, rows, pass_s, traced_pass_s, session_start_s,
                  warmup_s, calib_s, codec) -> dict[str, float]:
    def total(key, sub=None):
        return sum((r[sub][key] if sub else r[key]) for r in records)

    exec_s = total("exec_s")
    task_s = total("task_s", "exec")
    join_rows = total("join_output_rows", "plan")
    out_rows = sum(rows.values())
    m = {
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
        "tables.calls": total("tables_calls"),
        "tables.s": total("tables_s"),
        "tables.jobs": total("tables_jobs"),
        "build.s": total("build_s"),
        "build.self_s": total("build_s") - total("tables_s"),
        "build.jobs": total("build_jobs"),
        "catalyst.analysis_ms": sum(r["catalyst_ms"].get("analysis", 0.0) for r in records),
        "catalyst.optimization_ms": sum(
            r["catalyst_ms"].get("optimization", 0.0) for r in records),
        "catalyst.planning_ms": sum(r["catalyst_ms"].get("planning", 0.0) for r in records),
        "exec.s": exec_s,
        "exec.jobs": total("exec_jobs"),
        "exec.stages": total("stages", "exec"),
        "exec.tasks": total("tasks", "exec"),
        "exec.task_cpu_s": total("task_cpu_s", "exec"),
        "exec.core_utilization": task_s / (exec_s * CORES) if exec_s else 0.0,
        "exec.max_task_s": max((r["exec"]["max_task_s"] for r in records), default=0.0),
        "exec.shuffle_read_bytes": total("shuffle_read_bytes", "exec"),
        "exec.shuffle_write_bytes": total("shuffle_write_bytes", "exec"),
        "exec.spill_bytes": total("spill_bytes", "exec"),
        "exec.failed_tasks": total("failed_tasks", "exec"),
        "exec.join_output_rows": join_rows,
        "exec.join_rows_per_output_row": join_rows / out_rows if out_rows else 0.0,
        "py.rows": total("py_rows", "plan"),
        "py.bytes_sent": total("py_bytes_sent", "plan"),
        "py.bytes_received": total("py_bytes_received", "plan"),
        **codec,
        **wl.io_counts(records),
        "env.calib_s": calib_s,
        "trace.overhead_frac": traced_pass_s / pass_s - 1.0,
    }
    return {k: float(v) for k, v in m.items()}


def run(args, work: str) -> dict:
    import workloads
    from probes import RssSampler, SparkProbe

    tracer = Tracer()
    if args.trace:
        tracer.wrap_tables()
    wl = workloads.make(args.workload, CORES)

    spark = None
    rounds = []
    session_start_s = 0.0
    for r in range(SETUP_ROUNDS):
        remove_inputs(work)
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session()
        if r == 0:
            session_start_s = time.perf_counter() - t0
        wl.prepare(spark, args.seed, os.path.join(work, "in", f"pb-{wl.name}-s{args.seed}-r{r}"))
        rounds.append(time.perf_counter() - t0)
    setup_s = statistics.median(rounds)

    order = list(wl.ops)
    random.Random(args.seed).shuffle(order)
    t0 = time.perf_counter()
    attempted, failed, rows = wl.warm_and_check(spark)
    warmup_s = time.perf_counter() - t0

    with RssSampler() as rss:
        passes, op_times, n_ops, n_failed = timed_passes(wl, spark, order, args.seconds)
    attempted += n_ops
    failed += n_failed
    medians = {op: statistics.median(v) for op, v in op_times.items() if v}
    geo = [medians[op] for op in wl.geomean_ops if op in medians]
    if not geo or wl.throughput_op not in (None, *medians):
        raise RuntimeError("every timed run of a measured op failed")
    pass_s = statistics.median(passes)
    # Input bytes per second of the throughput op (the CLI over the
    # fleet), or of a whole pass where the workload names none.
    mb_wall = medians[wl.throughput_op] if wl.throughput_op else pass_s
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "op_geomean_s": math.exp(sum(map(math.log, geo)) / len(geo)),
        "mb_s": wl.input_bytes / 1e6 / mb_wall,
        "peak_rss_mb": rss.peak_bytes / 1e6,
    }
    print(f"perfbench: {wl.name} seed={args.seed} passes={len(passes)} "
          f"pass_s={pass_s:.3f} max={max(passes):.3f} setup rounds={rounds} "
          f"warmup_s={warmup_s:.2f} ops="
          + json.dumps({op: round(statistics.median(v), 3) for op, v in op_times.items() if v})
          + " first=" + json.dumps({op: round(v, 3) for op, v in wl.first_walls.items()}),
          file=sys.stderr)
    metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}

    if args.trace:
        tracer.probe = SparkProbe(spark)
        tracer.active = True
        records = []
        t0 = time.perf_counter()
        for op in order:
            attempted += 1
            try:
                records.append(tracer.run_op(wl, spark, op))
            except Exception:
                failed += 1
                print(f"perfbench: traced {op} FAILED\n{traceback.format_exc()}",
                      file=sys.stderr)
        traced_pass_s = time.perf_counter() - t0
        tracer.active = False
        layers = layer_metrics(
            records, wl, rows, pass_s, traced_pass_s, session_start_s, warmup_s,
            calibration_s(spark), codec_probe(wl.codec_inputs()))
        layers["check.failed_frac"] = failed / attempted
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{wl.name}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": wl.name, "seed": args.seed, "cores": CORES,
                       "end_to_end": e2e, "layers": layers, "ops": records,
                       "output_rows": rows}, f, indent=1)
        print(f"perfbench: trace written to {path}", file=sys.stderr)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}

    # Every end-to-end metric by name and unit, and the failed share
    # (zero when all is well, so it is not a bounded metric).
    print(f"perfbench: {wl.name} seed={args.seed} "
          + " ".join(f"{k}={v:.4g} {END_TO_END_UNITS[k]}" for k, v in e2e.items())
          + f" failed_frac={failed / attempted:.4g} ratio", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("bench.py", "s3_avro_repair_spark", "tools"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    work = os.path.join(ROOT, ".perfbench", "work")
    pin_environment(work, args.driver_memory)

    def overdue(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, overdue)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args, work)
    finally:
        signal.alarm(0)
        try:
            stop_everything()
        finally:
            remove_inputs(work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
