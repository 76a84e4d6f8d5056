"""The fixture-tree cache (``avro_pipeline._cached_tree``).

Every derived fixture tree (the Avro fleet, the text, ORC, stream,
DPP and partitioned-parquet renditions) is cached under ``.avro_cache``
by the scale dir's name, a tag and a digest of its input tables'
``tables.fixture_token``. These tests pin that two scale dirs sharing
a name get their own trees, that rewriting an input in place rotates
the tree, and that a builder which loses a publish race keeps the
winner's tree.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from s3_avro_repair_spark.avro_codec import read_ocf
from s3_avro_repair_spark.sources import avro_pipeline
from s3_avro_repair_spark.sources.avro_pipeline import (
    _orders_records,
    ensure_avro_fixtures,
)


def _clean_records(root: str) -> int:
    n = 0
    for name in sorted(os.listdir(os.path.join(root, "clean"))):
        with open(os.path.join(root, "clean", name), "rb") as f:
            n += len(read_ocf(f.read())[1])
    return n


def test_avro_tree_follows_the_orders_table(tmp_path, sf_dir):
    a, b = tmp_path / "a" / "sfT", tmp_path / "b" / "sfT"
    for d in (a, b):
        d.mkdir(parents=True)
        shutil.copy(os.path.join(sf_dir, "orders.parquet"), d / "orders.parquet")
    orders = pq.read_table(b / "orders.parquet")
    pq.write_table(orders.slice(0, orders.num_rows // 2), b / "orders.parquet")
    roots = []
    try:
        roots += [ensure_avro_fixtures(str(a)), ensure_avro_fixtures(str(b))]
        assert roots[0] != roots[1]
        assert all(os.path.basename(r).startswith("sfT_") for r in roots)
        for root, d in zip(roots, (a, b)):
            assert _clean_records(root) == len(_orders_records(str(d)))
        assert _clean_records(roots[1]) < _clean_records(roots[0])
        assert ensure_avro_fixtures(str(a)) == roots[0]

        pq.write_table(orders.slice(0, 10), a / "orders.parquet")
        roots.append(ensure_avro_fixtures(str(a)))
        assert roots[2] not in roots[:2]
        assert _clean_records(roots[2]) == len(_orders_records(str(a)))
    finally:
        for root in roots:
            shutil.rmtree(root, ignore_errors=True)


def test_race_loser_keeps_the_published_tree(tmp_path, monkeypatch, sf_dir):
    monkeypatch.setattr(avro_pipeline, "_CACHE_ROOT", str(tmp_path))
    seen = []

    def build(tmp):
        # another process publishes the same tree while this one builds
        seen.append(tmp)
        winner = avro_pipeline._cached_tree(
            sf_dir, "t1", ("orders",), lambda t: open(f"{t}/w", "w").close()
        )
        open(f"{tmp}/loser", "w").close()
        seen.append(winner)

    root = avro_pipeline._cached_tree(sf_dir, "t1", ("orders",), build)
    assert root == seen[1]
    assert os.listdir(root) == ["w"]
    assert not os.path.exists(seen[0])
    assert os.listdir(tmp_path) == [os.path.basename(root)]
