"""Dump .explain('formatted') output for registered ops.

Usage: python tools/dump_plan.py <out_dir> <suffix> <op_name> [op_name ...]

Writes {out_dir}/{op}_{suffix}.txt for each op — the plan-evidence
files the optimization rounds commit under plans/rN/.

Plans are written normalized: expression ids are renumbered in order
of first appearance (``#0``, ``#1``, ...; a long's ``L`` suffix
stays), and so are PySpark's lambda variables (``lambda x_20`` becomes
``lambda x_0``). ``plan_id=`` values and ``RDD[n]`` ids become
``plan_id=_`` and ``RDD[_]``, an RDD's call-site location
(``at <unknown>:0`` for a process's first op, ``at
NativeMethodAccessorImpl.java:0`` later) becomes ``at _``, and the
checkout's own path becomes ``<repo>``. So dumps of the same ops from
two checkouts, or made with different op lists, compare with ``diff
-r``: a difference is a difference of plan shape, not of the order in
which the process minted ids.

SPARK_GRAFT_DUMP_NOCKPT=1 makes localCheckpoint a no-op for the dump
ONLY, so the FULL pipeline (normally truncated to `Scan ExistingRDD`
at every materialization barrier) is visible in the plan evidence.
Dump-time introspection only — bench/driver paths never set it.
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def normalize(plan: str) -> str:
    """``plan`` with process-order ids replaced (see the module doc)."""
    ids: dict[str, int] = {}
    plan = re.sub(
        r"#(\d+)", lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", plan
    )
    lambdas: dict[str, int] = {}
    plan = re.sub(
        r"lambda (\w+)_(\d+)\b",
        lambda m: f"lambda {m.group(1)}_{lambdas.setdefault(m.group(0), len(lambdas))}",
        plan,
    )
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    plan = re.sub(r"RDD\[\d+\]( at \w+) at \S+:\d+", r"RDD[_]\1 at _", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[_]", plan)
    return plan.replace(_REPO, "<repo>")


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from s3_avro_repair_spark.plans.registry import load_all
    from s3_avro_repair_spark.session import get_session

    if os.environ.get("SPARK_GRAFT_DUMP_NOCKPT") == "1":
        # Patch the CLASSIC class: pyspark.sql.DataFrame is the abstract
        # API base in Spark 4 and instances resolve the subclass method.
        from pyspark.sql.classic.dataframe import DataFrame

        DataFrame.localCheckpoint = lambda self, eager=True: self

    spark = get_session("dump-plan")
    ops = load_all()
    for name in names:
        op = ops.get(name)
        if op is None:
            print(f"unknown op: {name}", file=sys.stderr)
            continue
        df = op.fn(spark, sf_dir)
        plan = normalize(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
