"""The table loader's remembered schemas (``tables.table``).

The first load of a fixture table infers its schema with one Spark job;
later loads of the same files under the same inference confs reuse it
and launch none. These tests pin that the remembered schema is the one
Spark infers, for single files and directories of parts, that a table
rewritten in place is inferred afresh, and that the loads and builds
which reuse it launch no job.
"""

from __future__ import annotations

import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import bench
from s3_avro_repair_spark import tables
from s3_avro_repair_spark.plans.registry import load_all

_GROUPS = itertools.count()


def _jobs(spark, fn) -> tuple[object, int]:
    """(fn(), the Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"test-tables-{next(_GROUPS)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_parts(src: str, dst: str, parts: int = 3) -> None:
    """``src`` rewritten as a directory of ``parts`` part files."""
    t = pq.read_table(src)
    os.makedirs(dst)
    step = -(-t.num_rows // parts)
    for k in range(parts):
        pq.write_table(t.slice(k * step, step), os.path.join(dst, f"part-{k}.parquet"))


@pytest.fixture(scope="module")
def parts_sf_dir(tmp_path_factory, sf_dir) -> str:
    tmp = str(tmp_path_factory.mktemp("sf_parts"))
    for t in tables.TABLE_NAMES:
        _write_parts(f"{sf_dir}/{t}.parquet", f"{tmp}/{t}.parquet")
    return tmp


@pytest.mark.parametrize("layout", ["file", "parts"])
@pytest.mark.parametrize("name", tables.TABLE_NAMES)
def test_remembered_schema_is_the_inferred_one(spark, sf_dir, parts_sf_dir, name, layout):
    root = sf_dir if layout == "file" else parts_sf_dir
    first = tables.table(spark, root, name)
    key = tables.schema_key(spark, root, name)
    assert key is not None
    fresh = spark.read.parquet(f"{root}/{name}.parquet").schema
    assert tables._SCHEMAS[key] == fresh
    again, jobs = _jobs(spark, lambda: tables.table(spark, root, name))
    assert jobs == 0
    assert again.schema == first.schema


def test_events_ts_is_the_same_under_both_encodings(spark, sf_dir, tmp_path):
    """TIMESTAMP(NANOS), read as a raw-nanos BIGINT under ``nanosAsLong``,
    and TIMESTAMP(MICROS) load as the same session-zone TIMESTAMP with
    the same values, on the inferring load and on the remembering one."""
    t = pq.read_table(f"{sf_dir}/events.parquet")
    i = t.schema.get_field_index("ts")
    for unit in ("ns", "us"):
        os.makedirs(tmp_path / unit)
        pq.write_table(
            t.set_column(i, "ts", pc.cast(t["ts"], pa.timestamp(unit))),
            str(tmp_path / unit / "events.parquet"),
            version="2.6",
        )
    raw = spark.read.parquet(str(tmp_path / "ns" / "events.parquet")).schema
    assert raw["ts"].dataType.simpleString() == "bigint"
    seen = []
    for unit in ("ns", "us"):
        for _ in range(2):
            df = tables.table(spark, str(tmp_path / unit), "events")
            assert df.schema["ts"].dataType.simpleString() == "timestamp"
            seen.append(df.orderBy("event_id").select("ts").toPandas()["ts"].tolist())
    assert all(s == seen[0] for s in seen[1:])
    assert seen[0]


def test_rewrite_in_place_is_inferred_afresh(spark, sf_dir, tmp_path):
    """A table rewritten at the same path with a BIGINT column cast to
    INT loads as INT at once: the rewrite rotates the file token."""
    path = str(tmp_path / "orders.parquet")
    shutil.copy(f"{sf_dir}/orders.parquet", path)
    before = tables.table(spark, str(tmp_path), "orders")
    assert before.schema["o_custkey"].dataType.simpleString() == "bigint"
    t = pq.read_table(path)
    i = t.schema.get_field_index("o_custkey")
    pq.write_table(t.set_column(i, "o_custkey", pc.cast(t["o_custkey"], pa.int32())), path)
    after = tables.table(spark, str(tmp_path), "orders")
    assert after.schema["o_custkey"].dataType.simpleString() == "int"
    assert after.agg({"o_custkey": "sum"}).first()[0] == before.agg(
        {"o_custkey": "sum"}
    ).first()[0]


def test_token_rotates_with_size_under_a_kept_mtime(tmp_path):
    """On a filesystem whose mtime does not move inside one clock tick,
    a rewrite of another size still rotates the token; for a directory
    the size is summed over its part files."""
    f = tmp_path / "t.parquet"
    f.write_bytes(b"x" * 10)
    st = os.stat(f)
    before = tables.fixture_token(str(tmp_path), "t")
    f.write_bytes(b"x" * 11)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    after = tables.fixture_token(str(tmp_path), "t")
    assert before[:2] == after[:2] and before != after
    d = tmp_path / "d.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 3)
    (d / "part-1.parquet").write_bytes(b"x" * 4)
    assert tables.fixture_token(str(tmp_path), "d")[2] == 7
    assert tables.fixture_token(str(tmp_path), "missing") == (
        os.path.join(str(tmp_path), "missing.parquet"), 0, 0,
    )


def test_key_follows_inference_confs(spark, sf_dir):
    """A session that reads Parquet nanos differently keys its own
    schemas; a path with no local token is never remembered."""
    other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert tables.schema_key(spark, sf_dir, "events") != tables.schema_key(
        other, sf_dir, "events"
    )
    assert tables.schema_key(spark, "s3a://bucket/sf", "events") is None


# The parquet ops of bench.HEADLINE and the dedup ops of bench.SECONDARY
# that the benchmark's analytics workload runs, with the Spark jobs a
# warm build still launches. text_tfidf's one job is its own
# localCheckpoint barrier: under AQE, planning the checkpointed
# aggregate runs its shuffle map stage. dedup_semantic, whose Lloyd
# barriers run at build by design, is left out.
_WARM_BUILD_JOBS = {
    "agg_groupby": 0,
    "join_sort_merge": 0,
    "window_topk_per_group": 0,
    "fn_json": 0,
    "text_tfidf": 1,
    "q_local_supplier": 0,
    "q_forecast_revenue": 0,
    "dedup_near": 0,
    "dedup_substring": 0,
}


@pytest.mark.parametrize("name", sorted(_WARM_BUILD_JOBS))
def test_warm_build_loads_tables_without_a_job(spark, sf_dir, name):
    assert name in bench.HEADLINE or name in bench.SECONDARY
    op = load_all()[name]
    op.fn(spark, sf_dir)
    _, jobs = _jobs(spark, lambda: op.fn(spark, sf_dir))
    assert jobs == _WARM_BUILD_JOBS[name]


# The ops built on the shared dataflow helpers (the substring span
# pipeline, the banded Hamming pairing, int8 Lloyd, the query-panel
# cosines, the as-of union and the recall row), on the similarity
# kernels of exprs.py, graph.sim_edges and tables.id_stride, or on the
# fixture-tree cache, with the Spark jobs a warm build launches. A
# localCheckpoint over a shuffle runs that shuffle's map stage at build
# under AQE, so a barrier moved into, out of or across a helper changes
# its op's count. The eager graph ops count one job per fixpoint round.
# graph_pagerank is left out: its warm build launches 30 or 31 jobs from
# run to run (one AQE stage job in a checkpointed round comes and goes),
# at the parent of this pin as well.
_HELPER_BUILD_JOBS = {
    "dedup_near": 0,
    "dedup_near_recall": 0,
    "dedup_ngram_jaccard": 0,
    "dedup_containment": 0,
    "q_corpus_pipeline": 0,
    "text_repetition": 0,
    "decontaminate": 0,
    "text_normalize": 0,
    "dedup_exact_normalized": 0,
    "dedup_exact_normalized_counts": 0,
    "dedup_levenshtein": 0,
    "sim_cosine_pairs": 0,
    "sim_ann_lsh": 0,
    "sim_ann_ivf": 24,
    "dedup_embedding_cosine": 0,
    "dedup_clusters": 16,
    "dedup_canonical": 16,
    "dedup_clusters_bigstar": 28,
    "graph_triangles": 9,
    "dedup_substring": 0,
    "dedup_substring_apply": 0,
    "dedup_phash": 2,
    "dedup_ahash": 2,
    "dedup_semantic": 7,
    "kmeans_quantized": 0,
    "sim_knn_topk": 0,
    "sim_range_search": 0,
    "join_asof": 0,
    "join_asof_forward": 0,
    "join_asof_tolerance": 0,
    "join_asof_nearest": 0,
    "sim_ann_lsh_recall": 0,
    "sim_ann_ivf_recall": 24,
    "scan_jsonl": 0,
    "scan_csv": 0,
    "scan_jsonl_permissive": 0,
    "scan_orc": 0,
    "scan_parquet_partitioned": 0,
    "join_dpp": 0,
    "sink_avro": 1,
}


@pytest.mark.parametrize("name", sorted(_HELPER_BUILD_JOBS))
def test_warm_build_jobs_of_helper_ops(spark, sf_dir, name):
    op = load_all()[name]
    op.fn(spark, sf_dir)
    _, jobs = _jobs(spark, lambda: op.fn(spark, sf_dir))
    assert jobs == _HELPER_BUILD_JOBS[name]
