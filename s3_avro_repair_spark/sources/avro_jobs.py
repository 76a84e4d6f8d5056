"""One job shape for every batch pass over Avro container files: the
E-group ops, the sinks' read-back, the batch ingest and the repair CLI.

The driver lists the files (metadata only, no Spark job) and cuts them
into units ``(path, start, end, size)`` (:func:`split_units`): whole
files for a per-file answer, or byte ranges of the unit size, which a
strict read or a count-only walk serves alike by resyncing on the sync
marker. The units are packed into byte-balanced bins, and a JVM-only
``range`` source feeds one bin id to each task (``mapInArrow``). A task
runs the caller's per-unit function on each unit of its bin, reading
the file itself through ``fsio``, and ships the rows it returns as
Arrow batches. No file byte crosses a shuffle or the Arrow boundary:
bin ids go in, result rows come out.

The driver-side listing, the cutter and the typed Arrow batching live
here too, so the ``avro_ocf`` DataSource lists, cuts and ships rows the
same way.
"""

from __future__ import annotations

import heapq
import itertools
import math

# Rows per Arrow batch a task ships: per-task memory is about this many
# rows plus one decoded block.
_BATCH_ROWS = 8192


def _pack_bins(sizes: list[int], n_bins: int) -> list[list[int]]:
    """Longest-processing-time packing: unit indices, largest first,
    each into the bin with the fewest bytes (ties: fewest units, then
    lowest bin), so no bin stays empty while ``n_bins <= len(sizes)``
    and a unit larger than the mean load sits alone."""
    bins: list[list[int]] = [[] for _ in range(n_bins)]
    heap = [(0, 0, b) for b in range(n_bins)]
    for i in sorted(range(len(sizes)), key=lambda i: (-sizes[i], i)):
        load, count, b = heapq.heappop(heap)
        bins[b].append(i)
        heapq.heappush(heap, (load + sizes[i], count + 1, b))
    return bins


def _n_bins(spark, n_units: float, total_bytes: int) -> int:
    """One bin per core, or one per ``spark.sql.files.maxPartitionBytes``
    of input when that is more (Spark's own settings); never more bins
    than units."""
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    want = max(spark.sparkContext.defaultParallelism, math.ceil(total_bytes / split))
    return min(n_units, want)


def split_units(files, unit: float) -> list[tuple[str, int, int, int]]:
    """The units ``(path, start, end, size)`` of ``files`` ``(path,
    size)``: a file at or below ``unit`` bytes stays whole, a larger one
    is cut into ``ceil(size / unit)`` equal byte ranges that tile it."""
    units = []
    for path, size in files:
        k = max(1, math.ceil(size / unit))
        units.extend((path, size * j // k, size * (j + 1) // k, size) for j in range(k))
    return units


def spark_units(spark, files) -> list[tuple[str, int, int, int]]:
    """:func:`split_units` at Spark's own file-split size
    (``FilePartition.maxSplitBytes``): ``min(maxPartitionBytes,
    max(openCostInBytes, ceil(bytes / bins)))`` with as many bins as the
    input's bytes want, whatever the file count."""
    conf = spark._jsparkSession.sessionState().conf()
    total = sum(size for _, size in files)
    bins = _n_bins(spark, math.inf, total)
    unit = min(
        conf.filesMaxPartitionBytes(),
        max(conf.filesOpenCostInBytes(), math.ceil(total / bins)),
    )
    return split_units(files, max(1, unit))


def run_units(spark, units: list[tuple[str, int, int, int]], fn, ddl: str):
    """The lazy DataFrame of ``ddl`` whose rows are ``fn(path, start,
    end, size)``'s, over every unit: an iterable of tuples positional
    over ``ddl``'s columns. No units is an empty result."""
    from pyspark.sql.types import StructType

    lengths = [end - start for _, start, end, _ in units]
    n_bins = max(1, _n_bins(spark, len(units), sum(lengths)))
    # The bins travel in the task's command, which PySpark itself
    # broadcasts once it passes spark.broadcast.UDFCompressionThreshold.
    bins = [[units[i] for i in b] for b in _pack_bins(lengths, n_bins)]
    fields = [(f.name, _pa_type(f.dataType)) for f in StructType.fromDDL(ddl).fields]

    def process(batches):
        for batch in batches:
            for b in batch.column(0).to_pylist():
                rows = itertools.chain.from_iterable(fn(*unit) for unit in bins[b])
                yield from arrow_batches(rows, fields, _BATCH_ROWS)

    return spark.range(n_bins, numPartitions=n_bins).mapInArrow(process, ddl)


def run_files(spark, path: str, fn, ddl: str):
    """:func:`run_units` over the container files under ``path``, each
    whole: ``fn(path, size)`` gives a file's rows."""
    units = split_units(_list_container_files_sized(path), math.inf)
    return run_units(spark, units, lambda p, _start, _end, size: fn(p, size), ddl)


def _list_container_files_sized(path: str) -> list[tuple[str, int]]:
    """(path, size) pairs — sizes come free with the listing, and are
    all the split planner needs (no data bytes read at plan time).

    Lists the set Spark's own file index lists for ``binaryFile`` with
    ``recursiveFileLookup``: a file or directory below ``path`` whose
    name Spark treats as hidden (:func:`_spark_hidden`) is skipped. The
    root itself is never filtered, so a tree under a hidden directory
    (the ``.avro_cache/`` fixtures) still lists. Paths carry ``path``'s
    scheme and authority, so ``fsio.resolve`` in a task reaches the same
    filesystem (``s3://bucket/key``, not a bare ``bucket/key`` that
    would resolve as local)."""
    from .. import fsio

    fs, p = fsio.resolve(path)
    import pyarrow.fs as pafs

    info = fs.get_file_info(p)
    if info.type == pafs.FileType.File:
        return [(path, info.size)]
    base = p.rstrip("/")
    at = path.find(base) if base else -1
    prefix = path[:at] if at > 0 else ""  # "s3://", "file://", "hdfs://nn:8020"
    sel = pafs.FileSelector(p, recursive=True)
    return sorted(
        (prefix + f.path, f.size)
        for f in fs.get_file_info(sel)
        if f.type == pafs.FileType.File
        and f.path.endswith(".avro")
        and not any(map(_spark_hidden, f.path[len(base) + 1 :].split("/")))
    )


def _spark_hidden(name: str) -> bool:
    """Spark's ``HadoopFSUtils.shouldFilterOutPathName``: names starting
    with ``_`` (unless they hold ``=``, a partition directory) or ``.``,
    and in-flight ``._COPYING_`` uploads; ``_metadata`` and
    ``_common_metadata`` are kept."""
    exclude = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    keep = name.startswith("_common_metadata") or name.startswith("_metadata")
    return exclude and not keep


# The Avro primitives both Avro paths carry, one row each: (Avro type,
# Spark DataType.typeName(), which is also its DDL name, pyarrow type
# constructor). The read path maps Avro to DDL (schema inference) and
# Spark to Arrow (task batches); the write path maps Spark to Avro.
PRIMITIVES = (
    ("boolean", "boolean", "bool_"),
    ("int", "integer", "int32"),
    ("long", "long", "int64"),
    ("float", "float", "float32"),
    ("double", "double", "float64"),
    ("bytes", "binary", "binary"),
    ("string", "string", "string"),
)
AVRO_TO_SPARK = {avro: spark for avro, spark, _ in PRIMITIVES}
SPARK_TO_AVRO = {spark: avro for avro, spark, _ in PRIMITIVES}


def _pa_type(spark_type):
    """Spark DataType -> exact pyarrow type. The Arrow batch MUST carry
    the type Spark's vectorized accessor expects — pandas-default int64
    against a declared int column breaks ArrowColumnVector.getInt (the
    schema-drift arm's narrowed generation found exactly that)."""
    import pyarrow as pa

    t = spark_type.typeName()
    for _, spark, arrow in PRIMITIVES:
        if spark == t:
            return getattr(pa, arrow)()
    raise ValueError(f"unsupported Avro read column type {t!r}")


def arrow_batches(rows, fields, batch_rows: int):
    """``rows`` (tuples, positional over ``fields``, ``[(name, pyarrow
    type)]``) as RecordBatches of at most ``batch_rows`` rows. Columns
    are typed from the Python values: None is null, ints exact at the
    declared width, no pandas dtype inference."""
    import pyarrow as pa

    names = [n for n, _ in fields]
    rows = iter(rows)
    while chunk := list(itertools.islice(rows, batch_rows)):
        yield pa.RecordBatch.from_arrays(
            [pa.array([r[i] for r in chunk], type=t) for i, (_, t) in enumerate(fields)],
            names=names,
        )
