"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Deselect the ``slow`` sweep arms on a directory run (``pytest
    tests/``, the default tier), but not in a file named on the command
    line: ``pytest tests/test_production_shard.py`` runs its arms. An
    explicit ``-m`` expression decides alone."""
    if config.option.markexpr:
        return
    named = {
        (config.invocation_params.dir / arg.split("::")[0]).resolve()
        for arg in config.args
    }
    keep, drop = [], []
    for item in items:
        slow = item.get_closest_marker("slow") and item.path.resolve() not in named
        (drop if slow else keep).append(item)
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    from s3_avro_repair_spark.session import get_session

    spark = get_session("pytest", master="local[8]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    from tools.verify_local import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
