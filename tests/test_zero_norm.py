"""An all-zero embedding inside a candidate pair.

A zero vector has norm 0, so its cosine with anything is 0 / 0. Under
Spark's default ANSI mode a plain ``/`` raises ``DIVIDE_BY_ZERO`` and
the whole job aborts; DuckDB's oracles return NULL. ``exprs.cosine``
divides with ``try_divide``, so the pair's cosine is NULL on both
engines: it fails every threshold, sorts after every scored neighbour
and rounds to NULL.

The fixture is the test SF plus one all-zero vector that shares its
label with its id neighbour (the current maximum vec_id), so it lands
inside the banded candidate pairs of every cosine op and in the
brute-force scans of the panel ops.
"""

from __future__ import annotations

import duckdb
import pytest

from s3_avro_repair_spark.plans.registry import load_all

from tools.verify_local import TABLES, compare, table_source

_OPS = load_all()

# the ops whose cosine runs through exprs.cosine
_ORACLED = [
    "sim_cosine_pairs",
    "sim_knn_topk",
    "sim_range_search",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "dedup_canonical",
    "dedup_clusters_bigstar",
    "graph_pagerank",
    "graph_triangles",
]
_ROWS_ONLY = ["sim_ann_ivf"]

_ZERO_ROW = """
    SELECT * FROM read_parquet('{src}')
    UNION ALL
    SELECT * REPLACE (vec_id + 1 AS vec_id,
                      list_transform(embedding, x -> x - x) AS embedding)
    FROM read_parquet('{src}')
    WHERE vec_id = (SELECT MAX(vec_id) FROM read_parquet('{src}'))
"""


@pytest.fixture(scope="module")
def zero_sf_dir(tmp_path_factory, sf_dir) -> str:
    tmp = tmp_path_factory.mktemp("sf_zero_norm")
    con = duckdb.connect()
    for t in TABLES:
        sel = _ZERO_ROW if t == "embeddings" else "SELECT * FROM read_parquet('{src}')"
        con.execute(
            f"COPY ({sel.format(src=table_source(sf_dir, t))})"
            f" TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
        )
    zeros = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{tmp}/embeddings.parquet')"
        " WHERE list_max(list_transform(embedding, x -> abs(x))) = 0"
    ).fetchone()[0]
    con.close()
    assert zeros == 1
    return str(tmp)


@pytest.fixture(scope="module")
def zero_duck(zero_sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{table_source(zero_sf_dir, t)}')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _ORACLED)
def test_zero_norm_parity(name, spark, zero_sf_dir, zero_duck):
    op = _OPS[name]
    sdf = op.fn(spark, zero_sf_dir).toPandas()
    ddf = zero_duck.execute(op.oracle).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_zero_norm_rows_only_runs(name, spark, zero_sf_dir):
    assert _OPS[name].oracle is None
    assert _OPS[name].fn(spark, zero_sf_dir).count() > 0


def test_zero_vector_is_a_candidate(spark, zero_sf_dir):
    """The fixture does what it says: the zero vector meets its id
    neighbour in sim_cosine_pairs, with a NULL cosine."""
    rows = _OPS["sim_cosine_pairs"].fn(spark, zero_sf_dir).collect()
    top = max(max(r.id_a, r.id_b) for r in rows)
    cos = [r.cosine for r in rows if r.id_b == top]
    assert cos and all(c is None for c in cos)
