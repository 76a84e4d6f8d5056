"""Generated-code census: how many classes each op compiles, pass by pass.

Runs the named registry ops (default: the benchmark's ``analytics_mix``
list, ``perfbench/workloads.py``) for ``--passes`` passes in one
``session.get_session`` process. Each op is built and collected to
pandas, as the benchmark's client does. For every op of every pass it
prints the classes Janino compiled (the count of Spark's
``CodegenMetrics`` compilation-time histogram), their compile
milliseconds (``CodeGenerator.compileTime``) and the op's wall, then the
pass's totals.

Spark keeps compiled classes in one JVM-wide LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries. When a pass needs more
distinct classes than that, every warm pass compiles them all again; when
the cache holds the working set, a warm pass compiles (almost) none.

Usage: python tools/codegen_census.py SF_DIR [op ...] [--passes 3] [--cores N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from workloads import ANALYTICS_OPS, DEDUP_OPS  # noqa: E402

# The ops of the benchmark's analytics_mix workload, in its order.
ANALYTICS_MIX = ANALYTICS_OPS + DEDUP_OPS


class Counters:
    """The JVM's running totals of compiled classes and compile time."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._histogram = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def read(self) -> tuple[int, float]:
        """(classes compiled, compile milliseconds) since the JVM started."""
        return self._histogram.getCount(), self._generator.compileTime() / 1e6


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("ops", nargs="*", default=ANALYTICS_MIX)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args(argv)
    # Python workers import the package from this checkout, wherever
    # the tool is started from.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    from s3_avro_repair_spark.plans.registry import load_all
    from s3_avro_repair_spark.session import get_session

    spark = get_session("codegen-census", master=f"local[{args.cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    missing = [name for name in args.ops if name not in registry]
    if missing:
        raise SystemExit(f"ops not registered: {missing}")
    counters = Counters(spark)
    cap = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    print(f"cores {args.cores}, codegen cache cap {cap}, {len(args.ops)} ops, {args.sf_dir}")
    print(f"{'pass':>4} {'op':<28} {'classes':>7} {'compile_ms':>10} {'wall_s':>7}")
    for k in range(1, args.passes + 1):
        start_classes, start_ms = counters.read()
        pass_t = time.perf_counter()
        for name in args.ops:
            classes, ms = counters.read()
            t = time.perf_counter()
            registry[name].fn(spark, args.sf_dir).toPandas()
            wall = time.perf_counter() - t
            classes_after, ms_after = counters.read()
            print(f"{k:>4} {name:<28} {classes_after - classes:>7}"
                  f" {ms_after - ms:>10.1f} {wall:>7.3f}")
        classes, ms = counters.read()
        print(f"{k:>4} {'= pass total':<28} {classes - start_classes:>7}"
              f" {ms - start_ms:>10.1f} {time.perf_counter() - pass_t:>7.3f}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
