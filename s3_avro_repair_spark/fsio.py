"""URI-agnostic filesystem I/O for executor-side writes.

The reference's entire I/O surface is an object store (S3 listObjects /
getObject / upload, ``/root/reference/src/services/repair-avro.ts:37-40,
106-124``). The engine's write path must therefore never assume a local
POSIX filesystem: every byte written by an executor goes through
``pyarrow.fs`` here, so the same code serves ``/local/tree``,
``file:///...``, ``s3://...``, ``hdfs://...`` or any explicitly supplied
``pyarrow.fs.FileSystem`` (tests use ``SubTreeFileSystem`` to prove no
``os.*`` call sneaks in).

Commit discipline: write to a temp file beside the target (one per task
attempt: :func:`atomic_stream_records`) then ``FileSystem.move`` —
a true atomic rename on POSIX/HDFS, and a last-step server-side
copy+delete on object stores (the closest S3 offers; it is also exactly
what the reference's delete-then-upload swap does, minus our crash
window being a leftover ``.tmp`` instead of a deleted original).
"""

from __future__ import annotations

from pyarrow import fs as pafs


def resolve(path: str, filesystem: pafs.FileSystem | None = None):
    """Return ``(FileSystem, fs_native_path)`` for a path or URI.

    - explicit ``filesystem`` wins (path is taken as fs-native);
    - ``file:`` URIs (including Spark's single-slash ``file:/x`` form
      that ``binaryFile`` rows carry) map to the local filesystem;
    - any other ``scheme://`` goes to ``pyarrow.fs.FileSystem.from_uri``
      (s3/gs/hdfs/... — credentials from the standard env/config chain);
    - bare paths are local.
    """
    if filesystem is not None:
        return filesystem, path
    if path.startswith("file:"):
        p = path[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
        return pafs.LocalFileSystem(), p
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def join(dir_path: str, *parts: str) -> str:
    """fs-native path join (every pyarrow filesystem uses '/')."""
    return "/".join([dir_path.rstrip("/"), *parts])


def ensure_dir(path: str, filesystem: pafs.FileSystem | None = None) -> str:
    fs_, p = resolve(path, filesystem)
    fs_.create_dir(p, recursive=True)
    return p


def atomic_stream_records(
    path: str,
    write_fn,
    filesystem: pafs.FileSystem | None = None,
) -> tuple[str, int]:
    """Stream-write via ``write_fn(stream) -> n`` (records or bytes
    written) and commit ``path`` only if n > 0 (empty partitions leave
    nothing behind). Returns ``(fs_native_path, n)``.

    Inside a Spark task the temp file is ``<path>.tmp-<taskAttemptId>``,
    so concurrent attempts of the SAME task (speculative execution, a
    zombie task overlapping its retry) write disjoint temp files: a
    failing attempt's cleanup can never delete the healthy attempt's
    bytes, and the final move is always of a completely-written file.
    Outside a task it is ``<path>.tmp``."""
    from pyspark import TaskContext

    fs_, p = resolve(path, filesystem)
    ctx = TaskContext.get()
    tmp = p + (".tmp" if ctx is None else f".tmp-{ctx.taskAttemptId()}")
    try:
        with fs_.open_output_stream(tmp) as out:
            n = write_fn(out)
    except BaseException:
        try:
            fs_.delete_file(tmp)
        except (FileNotFoundError, OSError):
            pass
        raise
    if n:
        fs_.move(tmp, p)
    else:
        fs_.delete_file(tmp)
    return p, n
