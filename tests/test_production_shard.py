"""Production-shard sweep: every dirty shape at once.

Each hardening arm isolates one failure class; production delivers
them together, and arm INTERACTIONS are where the last bugs live —
this round's null-event-time × initial-watermark-guard interaction
was caught only because two arms shared an oracle. This capstone
generation composes the whole catalogue into one shard:

- hot keys in every table (skew arm) with the templated-header
  document block;
- calendar edges on every timestamp column: pre-epoch, exact
  midnights, leap days, year-boundary-minus-1µs;
- +1e6 value offsets (cancellation), 1000x / negated prices,
  1e8x / 1e-8x embedding scales (magnitude arm);
- at-least-once delivery: byte-identical re-delivered rows in
  documents, orders, customer, lineitem, events — including TRUE
  event_id duplicates (the streaming-dedup oracle counts DISTINCT
  ids, so it is placement-robust) — plus (user_id, ts) clock
  collisions under fresh ids and same-key-different-payload rows;
- unicode documents (CJK / emoji+ZWJ / RTL / astral) and
  megabyte-tail documents (distinct-vocab giant, unbroken token,
  digit run, spam repetition);
- three all-NULL-except-key rows per table;
- the whole thing written as THREE round-robin part files per table
  with 512-row row groups (multi-file arm).

Full oracle surface, cell-exact. Any diff is an interaction bug no
single-arm sweep can see.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from s3_avro_repair_spark.plans.registry import load_all

from tools.verify_local import TABLES, compare, table_source

_OPS = load_all()

_KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey",
    "customer": "c_custkey", "supplier": "s_suppkey",
    "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey", "events": "event_id",
    "documents": "doc_id", "embeddings": "vec_id",
}

# Stage 1: per-table value transform (skew + calendar + magnitude).
_TRANSFORM = {
    "documents": """
        SELECT doc_id,
               CASE WHEN doc_id % 10 < 7
                    THEN 'common header boilerplate: ' || text
                    ELSE text END AS text,
               CASE WHEN doc_id % 10 < 7 THEN 'en' ELSE lang END AS lang,
               CASE WHEN doc_id % 10 < 7 THEN 'src13' ELSE source END
                 AS source,
               CASE WHEN doc_id % 10 < 7 THEN n_chars + 27 ELSE n_chars END
                 AS n_chars
        FROM base
    """,
    "lineitem": """
        SELECT * REPLACE(
          CASE WHEN l_orderkey % 10 < 4 THEN 0 ELSE l_suppkey END
            AS l_suppkey,
          CASE WHEN l_orderkey % 13 = 3 THEN l_extendedprice * 1000.0
               WHEN l_orderkey % 13 = 7 THEN -l_extendedprice
               ELSE l_extendedprice END AS l_extendedprice,
          CASE (l_orderkey * 7 + l_linenumber) % 4
            WHEN 1 THEN make_timestamp(
              CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                   THEN 2000 ELSE 1996 END, 2, 29, 23, 59, 59)
            WHEN 2 THEN date_trunc('year', l_shipdate)
                        - INTERVAL 1 MICROSECOND
            ELSE l_shipdate END AS l_shipdate)
        FROM base
    """,
    "orders": """
        SELECT * REPLACE(
          CASE WHEN o_orderkey % 10 < 4 THEN 0 ELSE o_custkey END
            AS o_custkey,
          CASE o_orderkey % 4
            WHEN 1 THEN make_timestamp(
              CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                   THEN 2000 ELSE 1996 END, 2, 29, 0, 0, 0)
            ELSE o_orderdate END AS o_orderdate)
        FROM base
    """,
    "events": """
        SELECT * REPLACE(
          CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS user_id,
          value + 1000000.0 AS value,
          CASE event_id % 5
            WHEN 1 THEN ts - INTERVAL 60 YEAR
            WHEN 3 THEN date_trunc('day', ts)
            ELSE ts END AS ts)
        FROM base
    """,
    "embeddings": """
        SELECT * REPLACE(
          CASE WHEN vec_id % 10 < 7 THEN 0 ELSE label END AS label,
          CASE WHEN vec_id % 11 = 3
                 THEN list_transform(embedding, x -> x * 1e8)
               WHEN vec_id % 11 = 7
                 THEN list_transform(embedding, x -> x * 1e-8)
               ELSE embedding END AS embedding)
        FROM base
    """,
}

# Stage 2: per-table appended rows (delivery pathologies + tail docs),
# phrased against the TRANSFORMED relation ``t``.
_APPEND = {
    "documents": """
        (SELECT * FROM t WHERE doc_id % 71 = 3)                -- re-delivery
        UNION ALL BY NAME
        (SELECT CAST(9000 AS BIGINT) AS doc_id,
                '深度 学习 模型 的 训练 数据 质量 决定 效果' AS text,
                'zh' AS lang, 'src0' AS source,
                CAST(24 AS BIGINT) AS n_chars)
        UNION ALL BY NAME
        (SELECT CAST(9001 AS BIGINT) AS doc_id,
                '🚀 rocket 👩‍💻 coder 🇯🇵 flags تعلم الآلة 𝕳𝖊𝖑𝖑𝖔' AS text,
                'en' AS lang, 'src1' AS source, CAST(44 AS BIGINT) AS n_chars)
        UNION ALL BY NAME
        (SELECT CAST(9100 AS BIGINT) AS doc_id,
                (SELECT string_agg('tok' || i, ' ') FROM range(5000) r(i))
                  AS text,
                'en' AS lang, 'src2' AS source,
                CAST(33889 AS BIGINT) AS n_chars)
        UNION ALL BY NAME
        (SELECT CAST(9101 AS BIGINT) AS doc_id, repeat('x', 20000) AS text,
                'en' AS lang, 'src3' AS source,
                CAST(20000 AS BIGINT) AS n_chars)
        UNION ALL BY NAME
        (SELECT CAST(9102 AS BIGINT) AS doc_id,
                'call me at ' || repeat('1', 2000) || ' thanks' AS text,
                'en' AS lang, 'src4' AS source,
                CAST(2018 AS BIGINT) AS n_chars)
        UNION ALL BY NAME
        (SELECT CAST(9103 AS BIGINT) AS doc_id,
                rtrim(repeat('spam ', 10000)) AS text,
                'en' AS lang, 'src5' AS source,
                CAST(49999 AS BIGINT) AS n_chars)
    """,
    "orders": """
        (SELECT * FROM t WHERE o_orderkey % 101 = 13 LIMIT 4)  -- re-delivery
        UNION ALL BY NAME
        (SELECT o_orderkey, o_custkey, o_orderstatus,           -- conflicting
                o_totalprice * 2 + 11 AS o_totalprice,          -- payload
                o_orderdate, o_orderpriority
         FROM t WHERE o_orderkey % 101 = 29 LIMIT 3)
    """,
    "customer": """
        (SELECT * FROM t WHERE c_custkey % 67 = 9 LIMIT 3)
    """,
    "lineitem": """
        (SELECT * FROM t WHERE l_orderkey % 101 = 13 LIMIT 4)
    """,
    "events": """
        (SELECT * FROM t WHERE event_id % 97 = 11 LIMIT 3)     -- true dup ids
        UNION ALL BY NAME
        (SELECT event_id + 5000000 AS event_id, ts, user_id,   -- clock
                'dup_type' AS event_type, value + 1.5 AS value, -- collision
                props
         FROM t WHERE event_id % 97 = 5 LIMIT 5)
    """,
    "embeddings": """
        (SELECT * FROM t WHERE vec_id % 53 = 7 LIMIT 3)
    """,
}


@pytest.fixture(scope="module")
def shard_sf_dir(tmp_path_factory, sf_dir) -> str:
    tmp = tmp_path_factory.mktemp("sf_prodshard")
    con = duckdb.connect()
    for t in TABLES:
        key = _KEYS[t]
        base = f"read_parquet('{table_source(sf_dir, t)}')"
        transform = _TRANSFORM.get(t, "SELECT * FROM base")
        con.execute(
            f"CREATE OR REPLACE TEMP VIEW base AS SELECT * FROM {base}"
        )
        con.execute(
            "CREATE OR REPLACE TEMP TABLE t AS " + transform
        )
        append = _APPEND.get(t)
        if append:
            con.execute(f"INSERT INTO t BY NAME ({append})")
        cols = [
            r[0] for r in con.execute("DESCRIBE SELECT * FROM t").fetchall()
        ]
        maxk = con.execute(
            f"SELECT COALESCE(MAX({key}), 0) FROM t WHERE {key} < 5000000"
        ).fetchone()[0]
        nullsel = ", ".join(
            f"CAST({maxk} + 6000000 + s AS BIGINT) AS {key}"
            if c == key
            else f"NULL AS {c}"
            for c in cols
        )
        con.execute(
            f"INSERT INTO t BY NAME"
            f" (SELECT {nullsel} FROM generate_series(0, 2) g(s))"
        )
        d = os.path.join(tmp, f"{t}.parquet")
        os.makedirs(d)
        for k in range(3):
            con.execute(
                f"""COPY (
                  SELECT * EXCLUDE (_rn) FROM (
                    SELECT *, row_number() OVER () AS _rn FROM t)
                  WHERE _rn % 3 = {k}
                ) TO '{d}/part-{k}.parquet'
                  (FORMAT PARQUET, ROW_GROUP_SIZE 512)"""
            )
    con.close()
    return str(tmp)


@pytest.fixture(scope="module")
def shard_duck(shard_sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{table_source(shard_sf_dir, t)}')"
        )
    yield con
    con.close()


# scan_with_filename's output IS the file layout (multi-file arm).
_LAYOUT_OUTPUT_OPS = {"scan_with_filename"}


# Full-surface sweep: every arm is `slow` (deselected on a directory
# run, so a plain `pytest tests/` fits an attestation budget) except one
# per dedup family and the shuffle-heavy TPC-H query (dedup_near is
# rows-only; its hash-checked arm is its recall companion, which runs
# dedup_near's dataflow against exact truth). Those run in the
# default tier: they caught per-copy bugs no single-arm sweep saw, and
# every table here is a directory of part files, so they also check the
# loader's remembered schemas over directory tables, cell-exact.
_DEFAULT_TIER = {
    "dedup_near_recall", "dedup_substring", "dedup_semantic", "q_local_supplier",
}


@pytest.mark.parametrize(
    "name",
    [
        n if n in _DEFAULT_TIER else pytest.param(n, marks=pytest.mark.slow)
        for n, op in _OPS.items()
        if op.oracle is not None and n not in _LAYOUT_OUTPUT_OPS
    ],
)
def test_production_shard_parity(name, spark, shard_sf_dir, shard_duck):
    op = _OPS[name]
    sdf = op.fn(spark, shard_sf_dir).toPandas()
    ddf = shard_duck.execute(op.oracle).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: " + "; ".join(problems)
