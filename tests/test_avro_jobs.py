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


def test_per_file_reads_are_chunked(tmp_path, monkeypatch):
    """The per-file functions of avro_validate_sampled, avro_stats,
    avro_schema_report and avro_scan_partitioned read through a
    ``ByteWindow``: with ``_CHUNK`` patched far below the file's size
    they return what a one-chunk read returns, while the window holds a
    fraction of the file. Damage still shows: the sampled check reports
    it and the strict count raises."""
    from s3_avro_repair_spark import avro_codec
    from s3_avro_repair_spark.sources import avro_pipeline as ap

    recs = [
        {"o_orderkey": i, "o_custkey": i % 97, "o_orderstatus": "FOP"[i % 3],
         "o_totalprice": i / 4, "o_orderdate": i * 1000}
        for i in range(50000)
    ]
    raw = avro_codec.write_ocf_bytes(ap.ORDERS_SCHEMA, recs, block_records=100)
    clean, hurt = tmp_path / "orders_3.avro", tmp_path / "orders_4.avro"
    clean.write_bytes(raw)
    hurt.write_bytes(ap.inject_bad_sync(raw))
    held = []
    ensure = avro_codec.ByteWindow.ensure

    def spy(self, pos, to):
        ensure(self, pos, to)
        held.append(len(self.buf))

    monkeypatch.setattr(avro_codec.ByteWindow, "ensure", spy)

    def rows():
        held.clear()
        args = (str(clean), len(raw))
        got = (ap._sampled_status(*args), ap._stats_row(*args), ap._schema_row(*args),
               ap._strict_count(*args), ap._sampled_status(str(hurt), len(raw)))
        with pytest.raises(avro_codec.CorruptBlock, match="sync marker damaged"):
            ap._strict_count(str(hurt), len(raw))
        return got

    want = (
        [("orders_3.avro", "healthy")], [(3, 50000, 500)], [("gen2", "null", 5, 50000)],
        50000, [("orders_4.avro", "corrupt")],
    )
    assert rows() == want
    assert max(held) == len(raw)  # one chunk covers it: read at once
    monkeypatch.setattr(avro_codec, "_CHUNK", 4096)
    assert rows() == want
    assert max(held) < len(raw) // 8
