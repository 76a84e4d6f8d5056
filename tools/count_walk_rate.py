"""Single-thread rate of the count-only salvage walk over a seeded fleet.

Writes the benchmark's corrupt Avro fleet (``perfbench/gen.write_fleet``)
to a temporary directory, then times ``avro_codec.salvage_range`` over
each whole file in this one process: the walk a CLI validate/repair task
runs (header, block checks, decompression and the count-only decoder),
without Spark. Prints MB/s per codec, in total and for the largest
file (the CLI run's straggler), best of ``--repeats`` passes.
perfbench's ``avro_codec.salvage_mb_s`` times the record-keeping walk
instead, so it does not show this layer.

Usage: python tools/count_walk_rate.py [--seed 1] [--repeats 5]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402
from s3_avro_repair_spark.avro_codec import salvage_range  # noqa: E402


def walk_seconds(path: str, size: int) -> float:
    with open(path, "rb") as f:
        t = time.perf_counter()
        salvage_range(f, size, 0, size)
        return time.perf_counter() - t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeats", type=int, default=5)
    args = ap.parse_args(argv)
    with tempfile.TemporaryDirectory(prefix="count_walk_") as out:
        files = gen.write_fleet(args.seed, out)["files"]
        by_codec: dict[str, list] = defaultdict(list)
        for rel, meta in files.items():
            by_codec[meta["codec"]].append((os.path.join(out, rel), meta["bytes"]))
        big_path, big_bytes = max(
            ((os.path.join(out, rel), m["bytes"]) for rel, m in files.items()),
            key=lambda pn: pn[1],
        )
        best: dict[str, float] = {}
        big_s = float("inf")
        for _ in range(args.repeats):
            for codec, paths in by_codec.items():
                s = sum(walk_seconds(p, n) for p, n in paths)
                best[codec] = min(best.get(codec, s), s)
            big_s = min(big_s, walk_seconds(big_path, big_bytes))
    print(f"{'codec':<8} {'files':>5} {'MB':>7} {'s':>7} {'MB/s':>7}")
    total_mb = total_s = 0.0
    for codec in sorted(by_codec):
        mb = sum(n for _, n in by_codec[codec]) / 1e6
        total_mb += mb
        total_s += best[codec]
        print(f"{codec:<8} {len(by_codec[codec]):>5} {mb:>7.2f} {best[codec]:>7.3f} "
              f"{mb / best[codec]:>7.1f}")
    print(f"{'total':<8} {len(files):>5} {total_mb:>7.2f} {total_s:>7.3f} "
          f"{total_mb / total_s:>7.1f}")
    print(f"{'largest':<8} {1:>5} {big_bytes / 1e6:>7.2f} {big_s:>7.3f} "
          f"{big_bytes / 1e6 / big_s:>7.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
