"""Every batch Avro op runs as one job on the repair CLI's planner
(``sources/avro_jobs.py``): no ``binaryFile`` scan in any plan, and no
file byte shuffled."""

from __future__ import annotations

import pytest

from s3_avro_repair_spark.plans.registry import load_all

_OPS = load_all()
_BATCH_AVRO_OPS = sorted(n for n, op in _OPS.items() if op.group == "E") + [
    "sink_avro",
    "stream_avro_ingest",
]


@pytest.mark.parametrize("name", _BATCH_AVRO_OPS)
def test_no_binary_file_scan(spark, sf_dir, name):
    plan = _OPS[name].fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "binaryfile" not in plan.lower(), plan


def test_validate_shuffles_no_file_bytes(spark, sf_dir):
    df = _OPS["avro_validate"].fn(spark, sf_dir)
    assert len(df.collect()) == 8
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
