"""CLI — the reference's interactive run loop as a Spark job.

The reference prompts for (bucket, folder, replace) and then walks the
object list SEQUENTIALLY: download → sampled validate → repair →
re-validate → conditional re-upload, aborting the run on the first
hard error (`/root/reference/src/services/repair-avro.ts:52-104`).
This CLI keeps that UX contract — point it at a tree of Avro files,
optionally write repairs back — but executes as ONE distributed job:
a corrupt file is a report row instead of a crashed run, and
`--replace` commits each repaired file atomically (write-to-.tmp +
rename, the engine-side analog of the reference's delete+swap at
:152-153).

The job's shape: the driver lists the tree (metadata only, no Spark
job) and packs the files into byte-balanced bins; a JVM-only
``range`` source feeds one bin to each task, and each task reads its
files through ``fsio``, salvages, and commits repairs. No file byte
crosses a shuffle or the Arrow boundary — only bin ids go in and
report rows come out. The per-file report is written to parquet in
that one job (``--report PATH``, default a temp dir removed on exit)
and read back on the driver for the counts and the detail table, so
the repair side effect runs exactly once.

    python -m s3_avro_repair_spark.cli --path /data/avro-tree \\
        [--replace] [--out /data/repaired] [--report /data/report.parquet] [--cpus 8]

Exit code: 0 if every file is healthy or repaired, 2 if any file is
unrepairable (header destroyed) — the run itself never aborts.
"""

from __future__ import annotations

import argparse
import heapq
import math
import os
import sys
import tempfile

# Display bound for the non-healthy detail table: a CLI prints a page,
# not a fleet. The per-status counters always cover the full listing.
_DETAIL_ROWS = 1000

_REPORT_FIELDS = (
    ("file", "string"),
    ("status", "string"),
    ("blocks_ok", "long"),
    ("blocks_resynced", "long"),
    ("blocks_lost", "long"),
    ("records_salvaged", "long"),
    ("written_to", "string"),
)


def _pack_bins(sizes: list[int], n_bins: int) -> list[list[int]]:
    """Longest-processing-time packing: file indices, largest first,
    each into the bin with the fewest bytes (ties: fewest files, then
    lowest bin), so no bin stays empty while ``n_bins <= len(sizes)``
    and a file larger than the mean load sits alone."""
    bins: list[list[int]] = [[] for _ in range(n_bins)]
    heap = [(0, 0, b) for b in range(n_bins)]
    for i in sorted(range(len(sizes)), key=lambda i: (-sizes[i], i)):
        load, count, b = heapq.heappop(heap)
        bins[b].append(i)
        heapq.heappush(heap, (load + sizes[i], count + 1, b))
    return bins


def _n_bins(spark, n_files: int, total_bytes: int) -> int:
    """One bin per core, or one per ``spark.sql.files.maxPartitionBytes``
    of input when that is more (Spark's own settings); never more bins
    than files."""
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    want = max(spark.sparkContext.defaultParallelism, math.ceil(total_bytes / split))
    return min(n_files, want)


def _repair_file(path: str, root: str, replace: bool, out_dir: str | None) -> dict:
    """Validate one container and, when asked, commit its repair: the
    reference's per-object loop body, run inside a task."""
    import posixpath

    from . import fsio
    from .avro_codec import salvage_ocf, salvaged_records, write_ocf_bytes

    fs_, local = fsio.resolve(path)
    with fs_.open_input_file(local) as f:
        data = f.read()
    # Counting pass: a healthy container's records are never kept.
    res = salvage_ocf(data, keep_records=False)
    written = ""
    if res.healthy:
        status = "healthy"
    elif not res.header_ok:
        status = "unrepairable"
    else:
        status = "repaired"
        if replace or out_dir:
            repaired = write_ocf_bytes(res.schema, salvaged_records(data))
            if replace:
                # Write back over the original via ITS OWN filesystem
                # (the reference's re-upload).
                written = fsio.atomic_write_bytes(local, repaired, filesystem=fs_)
            else:
                # Preserve the path relative to --path (a flat basename
                # layout silently collapses same-named files from
                # different subdirectories).
                rel = posixpath.relpath(local, root)
                out_fs, out_path = fsio.resolve(fsio.join(out_dir, rel))
                parent = posixpath.dirname(out_path)
                if parent:
                    out_fs.create_dir(parent, recursive=True)
                written = fsio.atomic_write_bytes(out_path, repaired, filesystem=out_fs)
    return {
        "file": posixpath.basename(local),
        "status": status,
        "blocks_ok": res.n_blocks_ok,
        "blocks_resynced": res.n_blocks_resynced,
        "blocks_lost": res.n_blocks_bad,
        "records_salvaged": res.n_records,
        "written_to": written,
    }


def _build_report(spark, path: str, replace: bool, out_dir: str | None):
    """The lazy per-file report over ``path`` and the number of files
    listed, or ``(None, 0)`` for an empty tree. Running the report
    commits the repairs, so run it once."""
    from . import fsio
    from .sources.avro_datasource import _list_container_files_sized

    if "://" not in path and not path.startswith("file:"):
        path = os.path.abspath(path)
    _, root = fsio.resolve(path)
    files = _list_container_files_sized(path)
    if not files:
        return None, 0
    n_bins = _n_bins(spark, len(files), sum(size for _, size in files))
    bins = spark.sparkContext.broadcast(
        [[files[i][0] for i in b] for b in _pack_bins([s for _, s in files], n_bins)]
    )

    def process(batches):
        import pyarrow as pa

        schema = pa.schema(
            [(n, pa.string() if t == "string" else pa.int64()) for n, t in _REPORT_FIELDS]
        )
        for batch in batches:
            for b in batch.column(0).to_pylist():
                rows = [_repair_file(f, root, replace, out_dir) for f in bins.value[b]]
                yield pa.RecordBatch.from_pylist(rows, schema=schema)

    report = spark.range(n_bins, numPartitions=n_bins).mapInArrow(
        process, ", ".join(f"{n} {t}" for n, t in _REPORT_FIELDS)
    )
    return report, len(files)


def _print_report(report_path: str, n_files: int) -> int:
    """Counts and the bounded non-healthy detail table from the written
    report, read on the driver without a Spark job; returns the exit
    code."""
    import pandas as pd
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from . import fsio

    fs_, p = fsio.resolve(report_path)
    dataset = ds.dataset(p, filesystem=fs_, format="parquet")
    counts = {
        r["values"]: r["counts"]
        for r in pc.value_counts(dataset.to_table(columns=["status"])["status"]).to_pylist()
    }
    detail = (
        dataset.to_table(filter=pc.field("status") != "healthy")
        .sort_by("file")
        .slice(0, _DETAIL_ROWS)
        .to_pandas()
    )
    if len(detail):
        with pd.option_context("display.max_rows", None, "display.width", 200):
            print(detail.to_string(index=False))
        shown_bad = len(detail)
        n_bad = n_files - counts.get("healthy", 0)
        if n_bad > shown_bad:
            print(f"... ({n_bad - shown_bad} more non-healthy files)")
    print(
        f"\n{n_files} files: "
        + ", ".join(f"{counts.get(s, 0)} {s}" for s in ("healthy", "repaired", "unrepairable"))
    )
    return 2 if counts.get("unrepairable", 0) else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="s3_avro_repair_spark",
        description="Validate / repair a tree of Avro container files as a Spark job.",
    )
    ap.add_argument("--path", required=True, help="directory (searched recursively) of .avro files")
    ap.add_argument(
        "--replace",
        action="store_true",
        help="write repaired files back over the originals (reference's replace=true)",
    )
    ap.add_argument("--out", default=None, help="write repaired copies here instead of in place")
    ap.add_argument(
        "--report",
        default=None,
        help="write the per-file parquet report here (must not exist); default: a temp dir removed on exit",
    )
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args(argv)

    if args.out:
        from . import fsio

        fsio.ensure_dir(args.out)

    from .session import get_session

    spark = get_session("avro-repair-cli", master=f"local[{args.cpus}]")
    report, n_files = _build_report(spark, args.path, args.replace, args.out)
    if report is None:
        print(f"no .avro files under {args.path}", file=sys.stderr)
        return 1
    # The CLI always runs local[N], so a driver temp dir is visible to
    # its tasks.
    with tempfile.TemporaryDirectory(prefix="avro-repair-report-") as tmp:
        report_path = args.report or os.path.join(tmp, "report.parquet")
        # The one action: repairs commit and report rows land together.
        report.write.parquet(report_path)
        return _print_report(report_path, n_files)


if __name__ == "__main__":
    raise SystemExit(main())
