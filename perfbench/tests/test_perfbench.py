"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import gen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _tree(path):
    out = {}
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = f.read()
    return out


def test_same_seed_same_tables_and_fleet(tmp_path):
    for d in ("a", "b"):
        gen.write_tables(7, str(tmp_path / d / "tables"))
        manifest = gen.write_fleet(7, str(tmp_path / d / "fleet"))
        (tmp_path / d / "manifest.json").write_text(json.dumps(manifest, sort_keys=True))
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")


def test_other_seed_same_sizes_other_placement(tmp_path):
    m1 = gen.write_fleet(1, str(tmp_path / "f1"))
    m2 = gen.write_fleet(2, str(tmp_path / "f2"))
    blocks = [sorted(f["blocks"] for f in m["files"].values()) for m in (m1, m2)]
    assert blocks[0] == blocks[1] == sorted(gen.fleet_blocks())
    assert abs(3 * max(blocks[0]) - sum(blocks[0])) <= 0.05 * sum(blocks[0])
    injured = [{k for k, f in m["files"].items() if f["injury"]} for m in (m1, m2)]
    assert len(injured[0]) == len(injured[1]) == gen.FLEET_FILES // 8
    assert injured[0] != injured[1]
    t1, t2 = gen.table_data(1), gen.table_data(2)
    assert {k: v.num_rows for k, v in t1.items()} == {k: v.num_rows for k, v in t2.items()}
    assert {k: v.schema for k, v in t1.items()} == {k: v.schema for k, v in t2.items()}
    assert not t1["orders"].equals(t2["orders"])


def test_manifest_agrees_with_salvage(tmp_path):
    from s3_avro_repair_spark.avro_codec import salvage_ocf

    manifest = gen.write_fleet(3, str(tmp_path))
    assert {f["injury"] for f in manifest["files"].values()} == {None, *gen.INJURIES}
    for rel, want in manifest["files"].items():
        res = salvage_ocf((tmp_path / rel).read_bytes())
        status = ("healthy" if res.healthy
                  else "repaired" if res.header_ok else "unrepairable")
        assert (status, len(res.records)) == (want["status"], want["records"]), rel


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    for w in spec["workloads"]:
        assert workloads.make(w["name"], 4).name == w["name"]


class _FakeWorkload:
    ops = ["ok", "boom"]

    def reset(self, op):
        pass

    def build(self, spark, op):
        if op == "boom":
            raise ValueError("op failed")
        return op

    def execute(self, spark, op, df):
        pass


def test_raising_op_is_counted_not_fatal():
    passes, op_times, attempted, failed = run.timed_passes(
        _FakeWorkload(), None, ["boom", "ok"], 0.0)
    assert len(passes) == 1
    assert (attempted, failed) == (2, 1)
    assert len(op_times["ok"]) == 1 and op_times["boom"] == []


def test_status_store_metric_strings():
    assert probes.parse_metric("1,234") == 1234
    assert probes.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB"
        " (stage 3.0: task 7))") == 2048


def test_cli_output_parsing():
    wl = workloads.FleetWorkload(4)
    wl.last = (2, (
        "          file       status  blocks_ok  blocks_resynced  blocks_lost"
        "  records_salvaged  written_to\n"
        "part-00003.avro     repaired          4                0            1"
        "               400  /o/d=1/part-00003.avro\n"
        "part-00009.avro unrepairable          0                0            0"
        "                 0            \n"
        "\n64 files: 62 healthy, 1 repaired, 1 unrepairable\n"))
    assert workloads._detail_rows(wl.last[1]) == {
        "part-00003.avro": ("repaired", 400), "part-00009.avro": ("unrepairable", 0)}
    assert wl.summary() == {"healthy": 62, "repaired": 1, "unrepairable": 1}


def test_fleet_workload_times_cli_apart_from_avro_ops():
    fleet = workloads.make("fleet_repair", 4)
    assert fleet.ops == [workloads.FLEET_OP] + workloads.AVRO_OPS
    assert fleet.throughput_op == workloads.FLEET_OP
    assert workloads.FLEET_OP not in fleet.geomean_ops
    mix = workloads.make("analytics_mix", 4)
    assert mix.throughput_op is None and mix.geomean_ops == mix.ops
    assert not set(mix.ops) & set(workloads.AVRO_OPS)


def test_unknown_workload_is_refused():
    with pytest.raises(KeyError):
        workloads.make("nope", 4)
