"""CLI — the reference's interactive run loop as a Spark job.

The reference prompts for (bucket, folder, replace) and then walks the
object list SEQUENTIALLY: download → sampled validate → repair →
re-validate → conditional re-upload, aborting the run on the first
hard error (`/root/reference/src/services/repair-avro.ts:52-104`).
This CLI keeps that UX contract — point it at a tree of Avro files,
optionally write repairs back — but executes as one distributed job
(two when a split file needs a rewrite): a corrupt file is a report
row instead of a crashed run, and
`--replace` commits each repaired file atomically (write-to-.tmp +
rename, the engine-side analog of the reference's delete+swap at
:152-153).

The job's shape: the driver lists the tree (metadata only, no Spark
job) and cuts it into units by the unit rule every byte-range Avro
read shares (``avro_jobs.spark_units``, Spark's own split size): a file
at or below the unit size is one unit, a larger one is cut into equal
byte ranges, so the job's wall follows bytes / cores rather than the
largest file. The units are packed into byte-balanced bins, and a
JVM-only ``range`` source feeds one bin to each task — the planner
every batch Avro op runs on (``sources/avro_jobs.py``). A task walks
each unit of its bin once through ``fsio``, count-only and by bounded
chunked reads (``avro_codec.salvage_range``: resync on the sync marker,
nothing decoded into records); a range unit counts only the blocks
whose header lies in the range. A whole damaged file is repaired from
that same walk by copying blocks (``avro_codec.write_salvaged``): the
input's header verbatim, then every block the walk kept, byte for
byte, each followed by the file's sync marker. A repaired copy keeps
the input's codec and reads back with exactly the salvaged records.
No file byte crosses a shuffle or the Arrow boundary — only bin ids go
in and one report row per unit comes out, returned to the driver as
Arrow by that one action (``toArrow``); the driver sums a split file's
ranges into one row. A split file that comes back damaged under
``--out``/``--replace`` is repaired whole by a second job over those
files alone; the fleets this CLI meets mostly need none. Every repair
side effect runs exactly once, and ``--report PATH`` keeps the per-file
report as parquet, written by the driver.

    python -m s3_avro_repair_spark.cli --path /data/avro-tree \\
        [--replace] [--out /data/repaired] [--report /data/report.parquet] [--cpus 8]

Exit code: 0 if every file is healthy or repaired, 2 if any file is
unrepairable (header destroyed) — the run itself never aborts.
"""

from __future__ import annotations

import argparse
import math
import os
import sys

from .sources.avro_jobs import _list_container_files_sized, run_units, spark_units, split_units

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
_COUNTERS = ("blocks_ok", "blocks_resynced", "blocks_lost", "records_salvaged")
_STATUSES = ("healthy", "repaired", "unrepairable")
# A unit row also carries its file's full path (the merge key: base
# names repeat across directories) and size (to plan a rewrite).
_UNIT_FIELDS = (("path", "string"), ("size", "long")) + _REPORT_FIELDS


def _run_unit(
    path: str, start: int, end: int, size: int, root: str, replace: bool, out_dir: str | None
) -> tuple:
    """Validate one unit inside a task; its row of ``_UNIT_FIELDS``. A
    whole file also commits its repair when asked — the reference's
    per-object loop body. A range of a split file only counts the
    blocks it owns; the driver sums the ranges. Either way the file is
    walked once, count-only, through bounded reads, and a repair copies
    the blocks that walk kept (``avro_codec.write_salvaged``)."""
    import posixpath

    from . import fsio
    from .avro_codec import salvage_range, write_salvaged

    fs_, local = fsio.resolve(path)
    written = ""
    with fs_.open_input_file(local) as f:
        res = salvage_range(f, size, start, end)
        if res.status == "repaired" and start == 0 and end == size and (replace or out_dir):
            if replace:
                # Write back over the original via ITS OWN filesystem
                # (the reference's re-upload).
                out_fs, out_path = fs_, local
            else:
                # Preserve the path relative to --path (a flat basename
                # layout silently collapses same-named files from
                # different subdirectories).
                rel = posixpath.relpath(local, root)
                out_fs, out_path = fsio.resolve(fsio.join(out_dir, rel))
                parent = posixpath.dirname(out_path)
                if parent:
                    out_fs.create_dir(parent, recursive=True)
            written, _ = fsio.atomic_stream_records(
                out_path, lambda out: write_salvaged(f, out, res), filesystem=out_fs
            )
    return (
        path, size, posixpath.basename(local), res.status, res.n_blocks_ok,
        res.n_blocks_resynced, res.n_blocks_bad, res.n_records, written,
    )


def _tree(path: str) -> tuple[str, str]:
    """``path`` made absolute unless it is a URI, and its filesystem
    path (the root ``--out`` copies are relative to)."""
    from . import fsio

    if "://" not in path and not path.startswith("file:"):
        path = os.path.abspath(path)
    return path, fsio.resolve(path)[1]


def _unit_report(spark, units: list[tuple[str, int, int, int]], root: str,
                 replace: bool, out_dir: str | None):
    """The lazy per-unit report over ``units`` ``(path, start, end,
    size)``, one Spark job (``avro_jobs.run_units``)."""
    return run_units(
        spark,
        units,
        lambda *unit: [_run_unit(*unit, root, replace, out_dir)],
        ", ".join(f"{n} {t}" for n, t in _UNIT_FIELDS),
    )


def _build_report(spark, path: str, replace: bool, out_dir: str | None):
    """The lazy per-unit report over ``path`` and the number of files
    listed, or ``(None, 0)`` for an empty tree. A file no larger than
    the unit size is one row with its own status; a larger file is one
    row per byte range. Running the report commits the whole-file
    repairs, so run it once."""
    path, root = _tree(path)
    files = _list_container_files_sized(path)
    if not files:
        return None, 0
    return _unit_report(spark, spark_units(spark, files), root, replace, out_dir), len(files)


def _merge_units(rows):
    """One row per file, in path order, from the unit ``rows``: a split
    file's counters are the sum of its ranges' and its status the worst
    of theirs (every range reads the same header). Column ``units``
    counts the rows merged."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rank = pc.index_in(rows["status"], value_set=pa.array(_STATUSES))
    merged = (
        rows.append_column("rank", rank)
        .group_by("path", use_threads=False)
        .aggregate(
            [("size", "min"), ("file", "min"), ("rank", "max")]
            + [(c, "sum") for c in _COUNTERS]
            + [("written_to", "max"), ("path", "count")]
        )
        .sort_by("path")
    )
    cols = {
        "path": merged["path"],
        "size": merged["size_min"],
        "units": merged["path_count"],
        "file": merged["file_min"],
        "status": pc.take(pa.array(_STATUSES), merged["rank_max"]),
        **{c: merged[f"{c}_sum"] for c in _COUNTERS},
        "written_to": merged["written_to_max"],
    }
    return pa.table(cols)


def _rewrite_split(spark, files, root: str, replace: bool, out_dir: str):
    """Repair the damaged split files whole, in a second job over them
    alone (a range task sees only a slice of its file), and fill in
    their ``written_to``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    redo = files.filter((pc.field("units") > 1) & (pc.field("status") == "repaired"))
    if not redo.num_rows:
        return files
    units = split_units(zip(redo["path"].to_pylist(), redo["size"].to_pylist()), math.inf)
    done = dict(
        _unit_report(spark, units, root, replace, out_dir).select("path", "written_to").collect()
    )
    written = [done.get(p, w) for p, w in zip(files["path"].to_pylist(),
                                              files["written_to"].to_pylist())]
    return files.set_column(
        files.schema.get_field_index("written_to"), "written_to", pa.array(written, pa.string())
    )


def _write_report(files, report_path: str) -> None:
    """The per-file report, the columns of ``_REPORT_FIELDS``."""
    import posixpath

    import pyarrow.parquet as pq

    from . import fsio

    fs_, p = fsio.resolve(report_path)
    if posixpath.dirname(p):
        fs_.create_dir(posixpath.dirname(p), recursive=True)
    pq.write_table(files.select([n for n, _ in _REPORT_FIELDS]), p, filesystem=fs_)


def _print_report(files, n_files: int) -> int:
    """Counts and the bounded non-healthy detail table from the per-file
    report; returns the exit code."""
    import pandas as pd
    import pyarrow.compute as pc

    counts = {
        r["values"]: r["counts"] for r in pc.value_counts(files["status"]).to_pylist()
    }
    detail = (
        files.filter(pc.field("status") != "healthy")
        .sort_by("file")
        .slice(0, _DETAIL_ROWS)
        .select([n for n, _ in _REPORT_FIELDS])
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
        + ", ".join(f"{counts.get(s, 0)} {s}" for s in _STATUSES)
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
        help="write the per-file parquet report here (must not exist); default: print only",
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
    if args.report:
        import pyarrow.fs as pafs

        from . import fsio

        fs_, p = fsio.resolve(args.report)
        if fs_.get_file_info(p).type != pafs.FileType.NotFound:
            raise FileExistsError(f"--report {args.report} already exists")
    # The one action over the tree: whole-file repairs commit and the
    # unit rows come back to the driver together.
    files = _merge_units(report.toArrow())
    if args.replace or args.out:
        files = _rewrite_split(spark, files, _tree(args.path)[1], args.replace, args.out)
    if args.report:
        _write_report(files, args.report)
    return _print_report(files, n_files)


if __name__ == "__main__":
    raise SystemExit(main())
