"""Pure-Python Avro Object Container File (OCF) codec with block salvage.

This is the repo's only hand-written data-level code — everything else
is declarative DataFrame programs. It replaces the avro-tools jar the
reference shells out to (``/root/reference/src/services/repair-avro.ts:131``
``cat`` == :func:`read_ocf`, ``:149`` ``repair`` == :func:`salvage_range`
+ :func:`write_salvaged`)
with an in-process implementation of the PUBLIC Avro 1.x spec
(https://avro.apache.org/docs/1.11.1/specification/):

- header: ``Obj\\x01`` magic, file-metadata map (``avro.schema`` JSON,
  ``avro.codec``), 16-byte sync marker;
- data blocks: record count (zigzag varint long), byte size, payload
  (codecs: null, deflate = raw RFC-1951, snappy + big-endian CRC32,
  bzip2, xz, and zstandard gated behind an import-try — the full set
  avro-tools 1.8.2 reads plus the modern zstd default), trailing sync
  marker;
- values: zigzag varint ints/longs, little-endian float/double,
  length-prefixed bytes/string, records/arrays/maps/unions/enums/fixed.

Salvage semantics (mirrors the documented behavior of avro-tools
``repair``): walk blocks strictly; a block whose payload decodes
byte-exactly but whose trailing sync marker is damaged is RECOVERED
(resync past the marker); any other failure drops the block and scans
forward to the next sync-marker occurrence. A damaged header is
unrepairable — the schema is gone.

Everything here runs inside executors (the per-bin tasks of
``sources/avro_jobs.py`` that every batch Avro op and the CLI run on,
the ``avro_ocf`` DataSource) — never on the driver, never a
whole-directory buffer; one file's bytes at a time, exactly the unit
the reference processed sequentially (``repair-avro.ts:52-71``) but
parallelized per-task. A large container splits further:
:func:`salvage_range` walks one byte range of it through a bounded
:class:`ByteWindow`, and the counters of ranges tiling the file sum to
the whole-file salvage. Every decoding walk — salvage, the strict
reads, reader-schema reads — is :func:`salvage_blocks` with a block
decoder passed in; only :func:`sampled_validate` walks on its own,
because it skips payloads on purpose. A repair decodes nothing twice:
:func:`write_salvaged` copies the blocks the count-only walk kept.

Values are decoded by code generated per schema, never interpreted:
:func:`compile_decoder` compiles a writer schema whole, every Avro type
inline, as a building decoder and a count-only twin, and
:func:`compile_resolved_decoder` plans a reader-schema read over those
generated decoders. The count-only twin of a schema of scalars, short
strings, enums and unions first matches each block with a per-schema
byte regex and runs its generated loop only on a block the regex
rejects. A schema that does not compile (a missing key, a
named-type reference) is found when the header is read, so its file is
unrepairable and never rewritten, instead of a file whose every block
fails to decode.
"""

from __future__ import annotations

import bz2
import datetime as _dt
import functools
import hashlib
import io
import itertools
import json
import lzma
import re
import struct
import zlib
from dataclasses import dataclass, field
from decimal import Decimal

MAGIC = b"Obj\x01"
SYNC_SIZE = 16
# Sanity bounds: a block claiming more than this is treated as corrupt
# rather than letting a flipped size byte allocate gigabytes.
MAX_BLOCK_RECORDS = 1 << 30
MAX_BLOCK_BYTES = 1 << 31
# Read size of a ByteWindow: a byte-range walk holds about this plus
# one block.
_CHUNK = 4 * 1024 * 1024


class CorruptHeader(ValueError):
    """File magic / metadata map / schema JSON is unreadable."""


class CorruptBlock(ValueError):
    """A data block failed strict decoding."""


# ---------------------------------------------------------------------------
# primitive binary encoding (Avro spec §Binary Encoding)
# ---------------------------------------------------------------------------


def _encode_long(n: int, out: bytearray) -> None:
    """Zigzag + varint."""
    n = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    n = len(buf)
    while True:
        if pos >= n:
            raise CorruptBlock("varint runs past end of buffer")
        if shift > 63:
            raise CorruptBlock("varint longer than 64 bits")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _encode_bytes(b: bytes, out: bytearray) -> None:
    _encode_long(len(b), out)
    out.extend(b)


def _read_sized(buf: bytes, pos: int) -> tuple[bytes, int]:
    size, pos = _read_long(buf, pos)
    if size < 0 or pos + size > len(buf):
        raise CorruptBlock(f"sized value of {size} bytes exceeds buffer")
    return buf[pos : pos + size], pos + size


# ---------------------------------------------------------------------------
# schema-driven value codec
# ---------------------------------------------------------------------------


def _schema_type(schema) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def _union_branch_matches(branch, val) -> bool:
    """True when the Python value can encode under this union branch."""
    bt = _schema_type(branch)
    if val is None:
        return bt == "null"
    if isinstance(val, bool):
        return bt == "boolean"
    # logical-typed Python values select their annotated branch
    # (datetime before date: datetime IS a date subclass)
    if isinstance(val, Decimal):
        return (
            isinstance(branch, dict)
            and bt in ("bytes", "fixed")
            and branch.get("logicalType") == "decimal"
        )
    if isinstance(val, _dt.datetime):
        return (
            isinstance(branch, dict)
            and bt == "long"
            and branch.get("logicalType")
            in ("timestamp-micros", "timestamp-millis")
        )
    if isinstance(val, _dt.date):
        return (
            isinstance(branch, dict)
            and bt == "int"
            and branch.get("logicalType") == "date"
        )
    if isinstance(val, int):
        return bt in ("int", "long")
    if isinstance(val, float):
        return bt in ("float", "double")
    if isinstance(val, str):
        return bt == "string" or (
            bt == "enum" and val in branch.get("symbols", ())
        )
    if isinstance(val, (bytes, bytearray)):
        return bt == "bytes" or (bt == "fixed" and len(val) == branch["size"])
    if isinstance(val, dict):
        return bt in ("record", "map")
    if isinstance(val, (list, tuple)):
        return bt == "array"
    return False


# --- logical types (Avro spec §Logical Types) ------------------------------
#
# The annotation lives in the SCHEMA (json round-trips untouched through
# write_ocf), but value-level fidelity needs codec support on both sides:
# encode_value accepts logical Python values (Decimal / date / datetime)
# wherever the schema carries the matching logicalType, and
# materialize_logical() upgrades a raw decoded tree to those values. Raw
# renditions (bytes / int / long) still encode unchanged, so a
# read->rewrite pass that never materializes stays byte-exact.

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_DT = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _min_signed_bytes(n: int) -> bytes:
    """Minimal two's-complement big-endian rendition — what Java
    BigInteger.toByteArray (the avro-tools reference behavior) emits."""
    length = ((n.bit_length() if n >= 0 else (n + 1).bit_length()) // 8) + 1
    return n.to_bytes(length, "big", signed=True)


def _decimal_unscaled(schema, val: Decimal) -> int:
    scale = schema.get("scale", 0)
    u = val.scaleb(scale)
    if u != u.to_integral_value():
        raise ValueError(
            f"decimal {val} does not fit scale {scale} exactly"
        )
    return int(u)


def _encode_logical(schema, lt: str, val, out: bytearray) -> bool:
    """Encode a logical-typed Python value; returns False when ``val``
    is a raw rendition so the caller falls through to base encoding."""
    base = schema["type"]
    if lt == "decimal" and isinstance(val, Decimal):
        unscaled = _decimal_unscaled(schema, val)
        if base == "bytes":
            _encode_bytes(_min_signed_bytes(unscaled), out)
        elif base == "fixed":
            try:
                out.extend(
                    unscaled.to_bytes(schema["size"], "big", signed=True)
                )
            except OverflowError as exc:
                raise ValueError(
                    f"decimal {val} overflows fixed({schema['size']})"
                ) from exc
        else:
            raise ValueError(f"decimal on base type {base!r}")
        return True
    if lt == "date" and isinstance(val, _dt.date) and not isinstance(
        val, _dt.datetime
    ):
        _encode_long((val - _EPOCH_DATE).days, out)
        return True
    if lt in ("timestamp-micros", "timestamp-millis") and isinstance(
        val, _dt.datetime
    ):
        v = val if val.tzinfo else val.replace(tzinfo=_dt.timezone.utc)
        delta = v - _EPOCH_DT
        us = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
        if lt == "timestamp-millis":
            if us % 1000:
                raise ValueError(f"{val} has sub-millisecond precision")
            _encode_long(us // 1000, out)
        else:
            _encode_long(us, out)
        return True
    return False


def materialize_logical(schema, val):
    """Recursively convert a RAW decoded value tree into logical Python
    values per the schema's logicalType annotations: decimal bytes/fixed
    -> Decimal at the declared scale, date int -> datetime.date,
    timestamp-micros/millis long -> tz-aware UTC datetime. Unannotated
    values pass through untouched."""
    t = _schema_type(schema)
    if isinstance(schema, dict):
        lt = schema.get("logicalType")
        if lt == "decimal" and isinstance(val, (bytes, bytearray)):
            return Decimal(
                int.from_bytes(val, "big", signed=True)
            ).scaleb(-schema.get("scale", 0))
        if lt == "date" and isinstance(val, int):
            return _EPOCH_DATE + _dt.timedelta(days=val)
        if lt == "timestamp-micros" and isinstance(val, int):
            return _EPOCH_DT + _dt.timedelta(microseconds=val)
        if lt == "timestamp-millis" and isinstance(val, int):
            return _EPOCH_DT + _dt.timedelta(milliseconds=val)
    if t == "record":
        return {
            f["name"]: materialize_logical(f["type"], val[f["name"]])
            for f in schema["fields"]
        }
    if t == "array":
        return [materialize_logical(schema["items"], v) for v in val]
    if t == "map":
        return {
            k: materialize_logical(schema["values"], v) for k, v in val.items()
        }
    if t == "union":
        for branch in schema:
            if _union_branch_matches(branch, val):
                return materialize_logical(branch, val)
    return val


def encode_value(schema, val, out: bytearray) -> None:
    t = _schema_type(schema)
    if isinstance(schema, dict):
        lt = schema.get("logicalType")
        if lt is not None and _encode_logical(schema, lt, val, out):
            return
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if val else 0)
    elif t in ("int", "long"):
        _encode_long(int(val), out)
    elif t == "float":
        out.extend(struct.pack("<f", float(val)))
    elif t == "double":
        out.extend(struct.pack("<d", float(val)))
    elif t == "bytes":
        _encode_bytes(bytes(val), out)
    elif t == "string":
        _encode_bytes(val.encode("utf-8"), out)
    elif t == "record":
        for f in schema["fields"]:
            encode_value(f["type"], val[f["name"]], out)
    elif t == "array":
        if val:
            _encode_long(len(val), out)
            for item in val:
                encode_value(schema["items"], item, out)
        _encode_long(0, out)
    elif t == "map":
        if val:
            _encode_long(len(val), out)
            for k, v in val.items():
                _encode_bytes(k.encode("utf-8"), out)
                encode_value(schema["values"], v, out)
        _encode_long(0, out)
    elif t == "union":
        # Branch selection matches the Python value TYPE against each
        # branch schema (first match wins, the Avro library convention)
        # — a null-vs-non-null test alone mis-encodes unions with more
        # than one non-null branch, e.g. ['null','string','long'].
        for i, branch in enumerate(schema):
            if _union_branch_matches(branch, val):
                _encode_long(i, out)
                encode_value(branch, val, out)
                return
        raise ValueError(f"no union branch for {val!r}")
    elif t == "enum":
        _encode_long(schema["symbols"].index(val), out)
    elif t == "fixed":
        if len(val) != schema["size"]:
            raise ValueError("fixed size mismatch")
        out.extend(val)
    else:
        raise ValueError(f"unsupported schema type {t!r}")


# ---------------------------------------------------------------------------
# container file: write
# ---------------------------------------------------------------------------


def deterministic_sync(schema) -> bytes:
    """The spec calls for a random sync marker; a schema-derived one is
    equally valid per spec (any 16 bytes) and makes fixtures and tests
    reproducible."""
    return hashlib.md5(json.dumps(schema, sort_keys=True).encode()).digest()


def _snappy_uncompressed_len(payload: bytes) -> int:
    """Raw snappy streams lead with a little-endian varint of the
    uncompressed length (the public snappy format description);
    pyarrow's decompress API needs that size up front."""
    n = shift = 0
    for i, b in enumerate(payload):
        if i > 9:
            break
        n |= (b & 0x7F) << shift
        if not (b & 0x80):
            return n
        shift += 7
    raise CorruptBlock("snappy preamble: unterminated varint")


def _compress(payload: bytes, codec: str) -> bytes:
    if codec == "null":
        return payload
    if codec == "deflate":  # raw RFC-1951, no zlib header (Avro spec)
        c = zlib.compressobj(9, zlib.DEFLATED, -15)
        return c.compress(payload) + c.flush()
    if codec == "snappy":
        # Avro spec: raw snappy block + 4-byte BIG-ENDIAN CRC32 of the
        # UNCOMPRESSED data. pyarrow bundles the snappy library.
        import pyarrow as pa

        body = pa.compress(payload, codec="snappy", asbytes=True)
        return body + struct.pack(">I", zlib.crc32(payload) & 0xFFFFFFFF)
    if codec == "bzip2":  # Avro 1.8 optional codec: plain bzip2 stream
        return bz2.compress(payload)
    if codec == "xz":  # Avro 1.8 optional codec: xz container format
        return lzma.compress(payload, format=lzma.FORMAT_XZ)
    if codec == "zstandard":  # Avro 1.9+ optional codec: one zstd frame
        return _zstd_module().ZstdCompressor().compress(payload)
    raise ValueError(f"unsupported codec {codec!r}")


def _decompress(payload: bytes, codec: str) -> bytes:
    if codec == "null":
        return payload
    if codec == "deflate":
        try:
            return zlib.decompress(payload, -15)
        except zlib.error as exc:
            raise CorruptBlock(f"deflate failure: {exc}") from exc
    if codec == "snappy":
        import pyarrow as pa

        if len(payload) < 5:
            raise CorruptBlock("snappy block shorter than preamble+crc")
        body, crc = payload[:-4], struct.unpack(">I", payload[-4:])[0]
        try:
            raw = pa.decompress(
                body,
                decompressed_size=_snappy_uncompressed_len(body),
                codec="snappy",
                asbytes=True,
            )
        except Exception as exc:  # pyarrow raises ArrowInvalid/OSError
            raise CorruptBlock(f"snappy failure: {exc}") from exc
        if zlib.crc32(raw) & 0xFFFFFFFF != crc:
            # The one codec whose blocks are checksummed: payload-only
            # damage (undetectable under null/deflate structure walks)
            # is caught here.
            raise CorruptBlock("snappy crc32 mismatch")
        return raw
    if codec == "bzip2":
        # avro-tools 1.8.2 (the reference's delegate) reads bzip2
        # containers; the stream carries its own block CRCs, so damage
        # surfaces as OSError/ValueError here.
        try:
            return bz2.decompress(payload)
        except (OSError, ValueError, EOFError) as exc:
            raise CorruptBlock(f"bzip2 failure: {exc}") from exc
    if codec == "xz":
        # xz integrity (CRC64 by default) is part of the container.
        try:
            return lzma.decompress(payload, format=lzma.FORMAT_XZ)
        except lzma.LZMAError as exc:
            raise CorruptBlock(f"xz failure: {exc}") from exc
    if codec == "zstandard":
        try:
            dctx = _zstd_module().ZstdDecompressor()
        except CorruptHeader:
            raise
        try:
            return dctx.decompress(payload)
        except Exception as exc:
            # One-shot decompress() requires the frame's content-size
            # header; frames from streaming writers (e.g. Java Avro's
            # OutputStream path) legitimately omit it and would be
            # misclassified as corrupt. Retry with the streaming
            # decompressor, which needs no size header, before
            # declaring the block damaged (ADVICE r7).
            try:
                dobj = dctx.decompressobj()
                out = dobj.decompress(payload)
                if not dobj.eof or dobj.unused_data:
                    raise ValueError(
                        "incomplete frame or trailing garbage"
                    )
                return out
            except Exception:
                raise CorruptBlock(f"zstandard failure: {exc}") from exc
    raise CorruptHeader(f"unsupported codec {codec!r}")


def _zstd_module():
    """Resolve a zstd binding, gated behind import-try.

    This container ships no zstd module (probed r7: no ``zstandard``
    package, Python 3.11 so no stdlib ``compression.zstd``), so the
    branch raises :class:`CorruptHeader` — the same per-file error class
    as any unreadable container, meaning one zstd file becomes a report
    row instead of aborting a 100 TB sweep. On a real cluster with
    ``zstandard`` installed the codec round-trips with no code change;
    ``tests/test_avro_codec.py`` exercises that path with a stub binding.
    """
    try:
        import zstandard  # noqa: PLC0415

        return zstandard
    except ImportError:
        pass
    try:  # Python 3.14+ stdlib naming
        from compression import zstd as _z  # noqa: PLC0415

        class _Shim:
            @staticmethod
            def ZstdCompressor():
                class _C:
                    @staticmethod
                    def compress(b):
                        return _z.compress(b)

                return _C()

            @staticmethod
            def ZstdDecompressor():
                class _D:
                    @staticmethod
                    def decompress(b):
                        return _z.decompress(b)

                return _D()

        return _Shim()
    except ImportError as exc:
        raise CorruptHeader(
            "unsupported codec 'zstandard': no zstd binding available "
            "(install the 'zstandard' package)"
        ) from exc


def write_ocf(
    fo,
    schema,
    records,
    codec: str = "null",
    block_records: int = 100,
    sync: bytes | None = None,
) -> int:
    """Stream records into an OCF. Returns the record count written."""
    sync = sync or deterministic_sync(schema)
    assert len(sync) == SYNC_SIZE
    header = bytearray(MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    _encode_long(len(meta), header)
    for k, v in meta.items():
        _encode_bytes(k.encode(), header)
        _encode_bytes(v, header)
    _encode_long(0, header)
    header.extend(sync)
    fo.write(bytes(header))

    n_written = 0
    block: bytearray = bytearray()
    count = 0

    def flush():
        nonlocal block, count, n_written
        if not count:
            return
        payload = _compress(bytes(block), codec)
        head = bytearray()
        _encode_long(count, head)
        _encode_long(len(payload), head)
        fo.write(bytes(head))
        fo.write(payload)
        fo.write(sync)
        n_written += count
        block, count = bytearray(), 0

    for rec in records:
        encode_value(schema, rec, block)
        count += 1
        if count >= block_records:
            flush()
    flush()
    return n_written


def write_ocf_bytes(schema, records, **kw) -> bytes:
    bio = io.BytesIO()
    write_ocf(bio, schema, records, **kw)
    return bio.getvalue()


# ---------------------------------------------------------------------------
# container file: read / salvage
# ---------------------------------------------------------------------------


def read_header(data: bytes) -> tuple[dict, str, bytes, int]:
    """Returns (schema, codec, sync, pos_after_header)."""
    if data[:4] != MAGIC:
        raise CorruptHeader("bad magic")
    pos = 4
    meta: dict[str, bytes] = {}
    try:
        while True:
            count, pos = _read_long(data, pos)
            if count == 0:
                break
            if count < 0:
                count = -count
                _, pos = _read_long(data, pos)
            if count > 1 << 20:
                raise CorruptHeader("metadata map count out of bounds")
            for _ in range(count):
                kraw, pos = _read_sized(data, pos)
                v, pos = _read_sized(data, pos)
                meta[kraw.decode("utf-8")] = v
    except (CorruptBlock, UnicodeDecodeError) as exc:
        raise CorruptHeader(f"metadata map unreadable: {exc}") from exc
    if pos + SYNC_SIZE > len(data):
        raise CorruptHeader("truncated before sync marker")
    sync = data[pos : pos + SYNC_SIZE]
    pos += SYNC_SIZE
    if "avro.schema" not in meta:
        raise CorruptHeader("no avro.schema in metadata")
    try:
        schema = json.loads(meta["avro.schema"])
    except ValueError as exc:
        raise CorruptHeader(f"schema JSON unreadable: {exc}") from exc
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema, codec, sync, pos


_DECODER_CACHE: dict[tuple[str, str], object] = {}
# One varint of at most 10 bytes, exactly what the generated varint loop
# accepts: the int/long regex of the count loop and of the block matcher.
_VARINT = rb"[\x80-\xff]{0,9}[\x00-\x7f]"


def compile_decoder(schema, build: bool = True):
    """Source-codegen a decoder specialized to ``schema`` (the fastavro
    approach): one generated function decodes a whole top-level value
    with varints, strings, scalars, enums and fixed INLINED — no
    per-value schema dispatch, no per-field Python call. A nested
    record, array or map is a call of its own generated function, and
    an array's or map's block loop is inline in that function. There is
    no interpreter beside it: every Avro type is generated.

    The generated code raises :class:`CorruptBlock` from every check of
    the byte stream (the corruption-injection suite pins the messages):
    varint bounds, sized values past the buffer, invalid UTF-8 (a map
    key too), union and enum indexes out of range, array and map counts
    out of bounds, ``fixed past end``. The schema is compiled whole and
    at once, so a schema the generator cannot compile raises here,
    before any byte is decoded: a missing key (``"fields"``,
    ``"items"``, ``"values"``, ``"symbols"``, ``"size"``) as
    ``KeyError``, a malformed one as ``TypeError`` or ``ValueError``,
    and an unknown or named-reference type (named-type resolution is
    not supported) as ``ValueError``. Cached per schema JSON — one
    codegen per schema per worker process, microseconds against
    millions of avoided calls. The cache key costs a ``json.dumps`` of
    the schema, so a walk resolves its decoder once
    (:func:`block_decoder`), not per block.

    ``build=False`` generates the count-only twin for a salvage pass
    that only counts records. It is a BLOCK function ``(payload, count)``
    with the record loop and the trailing-bytes check generated inside
    it: the checks of :func:`block_decoder`'s strict block decode in the
    same order, raising the same messages, but no dict, list, string, or
    number is built (a string is only checked for UTF-8) and it returns
    no records (an empty tuple). A run of int/long fields is skipped by
    one regex match, and a one-byte length, count or index is read
    inline; the exact loops run only when those fail, to raise their
    error. A nested record, array or map stays a call of its skipper.

    In front of that generated count loop stands a block matcher
    (:class:`_BlockMatcher`) when :func:`_value_regex` covers the
    schema: ints and longs, floats, doubles, fixed, booleans, nulls,
    strings of at most 63 ASCII bytes, bytes of at most 63 bytes, enums
    and unions of at most 64 branches, and records of those, up to a
    16 KiB one-record regex (about a dozen string fields). It matches
    a whole block's records with a few C-level regex calls, about 5x the
    loop's rate. Every block it accepts is one the loop accepts, and
    every block it rejects (damage, an array or map, a longer or
    non-ASCII string) goes through the loop, so results and messages
    are the loop's. A schema it does not cover gets the loop alone."""
    if build:
        return _codegen(schema, "build")
    key = (json.dumps(schema, sort_keys=True), "match")
    fn = _DECODER_CACHE.get(key)
    if fn is None:
        loop = _codegen(schema, "count")  # raises first for a bad schema
        record = _value_regex(schema)
        covered = record is not None and len(record) <= _MATCH_MAX_REGEX
        fn = _cached(key, _BlockMatcher(record, loop) if covered else loop)
    return fn


def _codegen(schema, mode: str):
    """:func:`compile_decoder`'s generator. ``mode`` is ``"build"``
    (``(buf, pos) -> (value, pos)``), ``"skip"`` (``(buf, pos) -> pos``:
    a nested record, array or map of a count-only decoder, or fields a
    reader schema drops) or ``"count"`` (the count-only block
    function)."""
    build = mode == "build"
    key = (json.dumps(schema, sort_keys=True), mode)
    fn = _DECODER_CACHE.get(key)
    if fn is not None:
        return fn

    ns: dict[str, object] = {
        "unpack_from": struct.unpack_from,
        "CorruptBlock": CorruptBlock,
    }
    lines: list[str] = ["def _decoder(buf, pos):", "    blen = len(buf)"]
    if mode == "count":  # a block's record loop is generated too
        lines = ["def _decoder(buf, count):", "    blen = len(buf)", "    pos = 0",
                 "    for i_ in range(count):"]
    n_subs = itertools.count()  # numbers the sub-decoders and symbol tables in ``ns``

    def varint(ind: str, out: str | None) -> None:
        """``out=None`` checks the varint's length and keeps no value."""
        keep = out is not None
        lines.extend(
            ([f"{ind}acc = 0"] if keep else [])
            + [
                f"{ind}shift = 0",
                f"{ind}while True:",
                f"{ind}    if pos >= blen:",
                f"{ind}        raise CorruptBlock("
                "'varint runs past end of buffer')",
                f"{ind}    if shift > 63:",
                f"{ind}        raise CorruptBlock("
                "'varint longer than 64 bits')",
                f"{ind}    b = buf[pos]",
                f"{ind}    pos += 1",
            ]
            + ([f"{ind}    acc |= (b & 0x7F) << shift"] if keep else [])
            + [
                f"{ind}    if not (b & 0x80):",
                f"{ind}        break",
                f"{ind}    shift += 7",
            ]
            + ([f"{ind}{out} = (acc >> 1) ^ -(acc & 1)"] if keep else [])
        )

    def skip_varints(ind: str, k: int) -> None:
        # k varints of at most 10 bytes each — exactly the ones the
        # loop accepts — matched in one C-level scan
        sub = f"_run{k}"
        ns[sub] = re.compile(b"(?:%s){%d}" % (_VARINT, k)).match
        lines.extend([f"{ind}m_ = {sub}(buf, pos)", f"{ind}if m_ is None:"])
        for _ in range(k):
            varint(ind + "    ", None)
        lines.extend([f"{ind}else:", f"{ind}    pos = m_.end()"])

    def value_varint(ind: str, out: str) -> None:
        if build:
            varint(ind, out)
            return
        lines.extend(
            [
                f"{ind}if pos < blen and buf[pos] < 0x80:",
                f"{ind}    b = buf[pos]",
                f"{ind}    pos += 1",
                f"{ind}    {out} = (b >> 1) ^ -(b & 1)",
                f"{ind}else:",
            ]
        )
        varint(ind + "    ", out)

    def in_range(ind: str, n: int, what: str) -> None:
        """A union branch or enum symbol index ``idx_`` below ``n``."""
        value_varint(ind, "idx_")
        lines.extend(
            [
                f"{ind}if not 0 <= idx_ < {n}:",
                f"{ind}    raise CorruptBlock("
                f"'{what} index %d out of range' % idx_)",
            ]
        )

    def blocks(s, ind: str, out: str) -> None:
        """An array or map, inline: blocks of items up to a zero count
        (a negative count is followed by the block's byte size); a map
        item is a string key, then its value. A function holds at most
        one such loop: a nested array or map is a call."""
        t = _schema_type(s)
        item = s["items"] if t == "array" else s["values"]
        if build:
            lines.append(f"{ind}{out} = {'[]' if t == 'array' else '{}'}")
        lines.append(f"{ind}while True:")
        value_varint(ind + "    ", "n_")
        lines.extend(
            [f"{ind}    if n_ == 0:", f"{ind}        break",
             f"{ind}    if n_ < 0:", f"{ind}        n_ = -n_"]
        )
        varint(ind + "        ", None)
        lines.extend(
            [
                f"{ind}    if n_ > {MAX_BLOCK_RECORDS}:",
                f"{ind}        raise CorruptBlock('{t} count out of bounds')",
                f"{ind}    for _ in range(n_):",
            ]
        )
        ind += "        "
        if t == "map":
            emit("string", ind, "k_")
        emit(item, ind, "x_")
        if build:
            lines.append(f"{ind}{out}.append(x_)" if t == "array" else f"{ind}{out}[k_] = x_")

    def emit(s, ind: str, out: str, inline: bool = False) -> None:
        """``inline`` emits an array or map as :func:`blocks`, not as
        a call: the top-level value of its own function."""
        t = _schema_type(s)
        if t == "null":
            lines.append(f"{ind}{out} = None" if build else f"{ind}pass")
        elif t == "boolean":
            lines.extend(
                [
                    f"{ind}if pos >= blen:",
                    f"{ind}    raise CorruptBlock('boolean past end')",
                    f"{ind}b = buf[pos]",
                    f"{ind}if b > 1:",
                    f"{ind}    raise CorruptBlock("
                    "'invalid boolean byte %d' % b)",
                ]
                + ([f"{ind}{out} = b == 1"] if build else [])
                + [f"{ind}pos += 1"]
            )
        elif t in ("int", "long"):
            if build:
                varint(ind, out)
            else:
                skip_varints(ind, 1)
        elif t in ("float", "double"):
            width, fmt = (4, "<f") if t == "float" else (8, "<d")
            lines.extend(
                [
                    f"{ind}if pos + {width} > blen:",
                    f"{ind}    raise CorruptBlock('{t} past end')",
                ]
                + ([f"{ind}{out} = unpack_from('{fmt}', buf, pos)[0]"] if build else [])
                + [f"{ind}pos += {width}"]
            )
        elif t in ("bytes", "string"):
            value_varint(ind, "size_")
            lines.extend(
                [
                    f"{ind}if size_ < 0 or pos + size_ > blen:",
                    f"{ind}    raise CorruptBlock("
                    "'sized value of %d bytes exceeds buffer' % size_)",
                ]
            )
            if build or t == "string":
                lines.append(f"{ind}raw_ = buf[pos:pos + size_]")
            lines.append(f"{ind}pos += size_")
            if t == "bytes":
                if build:
                    lines.append(f"{ind}{out} = raw_")
            else:
                if not build:  # ASCII is valid UTF-8: skip the decode
                    lines.append(f"{ind}if not raw_.isascii():")
                    ind += "    "
                lines.extend(
                    [
                        f"{ind}try:",
                        f"{ind}    {out} = raw_.decode('utf-8')",
                        f"{ind}except UnicodeDecodeError as exc:",
                        f"{ind}    raise CorruptBlock("
                        "'invalid utf-8 string: %s' % exc) from exc",
                    ]
                )
        elif t == "union":
            in_range(ind, len(s), "union")
            for i, branch in enumerate(s):
                lines.append(f"{ind}{'if' if i == 0 else 'elif'} idx_ == {i}:")
                emit(branch, ind + "    ", out)
        elif t == "enum":
            symbols = s["symbols"]
            if not isinstance(symbols, list):
                raise ValueError(f"enum symbols must be a list, not {symbols!r}")
            in_range(ind, len(symbols), "enum")
            if build:
                sub = f"_sym{next(n_subs)}"
                ns[sub] = tuple(symbols)
                lines.append(f"{ind}{out} = {sub}[idx_]")
        elif t == "fixed":
            size = s["size"]
            if type(size) is not int or size < 0:
                raise ValueError(f"fixed size must be a non-negative int, not {size!r}")
            lines.extend(
                [f"{ind}if pos + {size} > blen:", f"{ind}    raise CorruptBlock('fixed past end')"]
                + ([f"{ind}{out} = buf[pos:pos + {size}]"] if build else [])
                + [f"{ind}pos += {size}"]
            )
        elif t in ("array", "map") and inline:
            blocks(s, ind, out)
        elif t in ("record", "array", "map"):
            sub = f"_{t[:3]}{next(n_subs)}"
            ns[sub] = _codegen(s, "build" if build else "skip")
            lines.append(
                f"{ind}{out}, pos = {sub}(buf, pos)" if build else f"{ind}pos = {sub}(buf, pos)"
            )
        else:
            raise ValueError(f"unsupported schema type {t!r}")

    is_record = _schema_type(schema) == "record"
    if not build:  # every value lands in the throwaway name ``_``
        ind = "        " if mode == "count" else "    "
        types = [f["type"] for f in schema["fields"]] if is_record else [schema]
        if not types:  # a record with no fields: an empty loop body
            lines.append(f"{ind}pass")
        for is_int, run in itertools.groupby(types, lambda s: _schema_type(s) in ("int", "long")):
            run = list(run)
            if is_int:
                skip_varints(ind, len(run))
            else:
                for s in run:
                    emit(s, ind, "_", inline=not is_record)
        if mode == "count":
            lines.extend(
                [
                    "    if pos != blen:",
                    "        raise CorruptBlock("
                    "'%d trailing bytes in block' % (blen - pos))",
                    "    return ()",
                ]
            )
        else:
            lines.append("    return pos")
    elif is_record:
        pairs = []
        for i, f in enumerate(schema["fields"]):
            emit(f["type"], "    ", f"v{i}")
            pairs.append(f"{f['name']!r}: v{i}")
        lines.append(f"    return {{{', '.join(pairs)}}}, pos")
    else:
        emit(schema, "    ", "v0", inline=True)
        lines.append("    return v0, pos")

    exec("\n".join(lines), ns)  # noqa: S102 — self-generated source only
    return _cached(key, ns["_decoder"])


def _cached(key, fn):
    # Bounded FIFO: evict the OLDEST entry (dict preserves insertion
    # order), never clear() — a fleet cycling through >64 schemas would
    # otherwise recompile every decoder per rotation, and a clear()
    # fired by a nested-record compile mid-recursion would evict the
    # sub-decoders the outer codegen just bound (ADVICE r8).
    while len(_DECODER_CACHE) > 64:
        _DECODER_CACHE.pop(next(iter(_DECODER_CACHE)))
    _DECODER_CACHE[key] = fn
    return fn


# The largest string/bytes length and union/enum index the block
# matcher reads: one varint byte, zigzag 2n for n in 0..63.
_MATCH_MAX = 63


def _value_regex(schema) -> bytes | None:
    """A byte regex matching one value of ``schema`` exactly where the
    count loop accepts it, or None for a schema it does not cover
    (arrays, maps, enums and unions past 64 branches). It is
    deterministic: the varint classes are disjoint, and every
    alternative starts with its own literal length or index byte, so a
    failing match backtracks a bounded amount per value. A longer,
    non-canonical or non-ASCII string, a longer bytes value or a
    multi-byte index is not matched: its block falls back to the loop."""
    t = _schema_type(schema)
    if t == "null":
        return b""
    if t == "boolean":
        return rb"[\x00\x01]"
    if t in ("int", "long"):
        return _VARINT
    if t in ("float", "double", "fixed"):
        width = {"float": 4, "double": 8}.get(t) or schema["size"]
        return b".{%d}" % width
    if t in ("string", "bytes"):
        byte = rb"[\x00-\x7f]" if t == "string" else b"."
        return b"(?:%s)" % b"|".join(
            rb"\x%02x%s{%d}" % (2 * n, byte, n) for n in range(_MATCH_MAX + 1)
        )
    if t == "enum":
        n = len(schema["symbols"])
        if n > _MATCH_MAX + 1:
            return None
        return b"[%s]" % b"".join(rb"\x%02x" % (2 * i) for i in range(n))
    if t == "union":
        branches = [_value_regex(b) for b in schema]
        if len(branches) > _MATCH_MAX + 1 or None in branches:
            return None
        return b"(?:%s)" % b"|".join(
            rb"\x%02x%s" % (2 * i, r) for i, r in enumerate(branches)
        )
    if t == "record":
        fields = [_value_regex(f["type"]) for f in schema["fields"]]
        return None if None in fields else b"".join(fields)
    return None


# A repeat matches at most 2**_MATCH_MAX_POW records per call: the regex
# engine's backtracking stack grows with the records one match covers
# (about 62 MB for 2**17 orders records, under 0.5 MB for 2**10, which
# match as fast).
_MATCH_MAX_POW = 10
# A longer one-record regex keeps the loop alone: compiling a repeat
# costs about 1 ms per KiB of pattern (a short string alone is 1.3 KiB),
# once per repeat per worker process.
_MATCH_MAX_REGEX = 16 * 1024


class _BlockMatcher:
    """The count-only block function of a schema :func:`_value_regex`
    covers: it matches a block's ``count`` records with compiled repeats
    ``(?:R){2**k}`` of the one-record regex ``R``, a few C-level
    ``match`` calls per block, and runs the generated count ``loop``
    only on a block the matcher rejects, so every message is the
    loop's. A repeat is compiled when a block first needs it and kept
    with the decoder (writers vary the count from block to block, so
    one pattern per count would recompile forever). ``fallbacks``
    counts the blocks handed to the loop."""

    def __init__(self, record: bytes, loop):
        self.record, self.loop = record, loop
        self.repeats: dict[int, object] = {}
        self.fallbacks = 0

    def _repeat(self, k: int):
        m = self.repeats.get(k)
        if m is None:
            m = self.repeats[k] = re.compile(
                b"(?:%s){%d}" % (self.record, 1 << k), re.DOTALL
            ).match
        return m

    def __call__(self, payload, count):
        pos = 0
        steps = itertools.chain(
            itertools.repeat(_MATCH_MAX_POW, count >> _MATCH_MAX_POW),
            (k for k in range(_MATCH_MAX_POW) if count >> k & 1),
        )
        for k in steps:
            m = self._repeat(k)(payload, pos)
            if m is None:
                break
            pos = m.end()
        else:
            if pos == len(payload):
                return ()
        self.fallbacks += 1
        return self.loop(payload, count)


def _decode_with(dec, payload: bytes, count: int) -> list:
    """Strict: exactly `count` records of ``dec`` consuming exactly the
    payload."""
    recs = []
    pos = 0
    for _ in range(count):
        rec, pos = dec(payload, pos)
        recs.append(rec)
    if pos != len(payload):
        raise CorruptBlock(f"{len(payload) - pos} trailing bytes in block")
    return recs


def block_decoder(writer, reader=None):
    """The strict block decoder ``(payload, count) -> records`` of a walk
    over ``writer``'s blocks, reading them as ``reader`` (Avro schema
    resolution); the writer's own generated decoder when there is no
    reader or it is the writer. Resolve it once per walk: the count-only
    twin is ``compile_decoder(writer, build=False)``."""
    if reader is None or reader == writer:
        return functools.partial(_decode_with, compile_decoder(writer))
    return functools.partial(_decode_with, compile_resolved_decoder(writer, reader))


def _block_head(win: "ByteWindow", pos: int) -> tuple[int, int, int]:
    """``(count, payload_start, payload_size)`` of the block at ``pos``,
    read from its two header varints: the one block-header parse of
    every walk. A count past ``MAX_BLOCK_RECORDS``, a size past
    ``MAX_BLOCK_BYTES`` or a block running past the end of the file
    raises :class:`CorruptBlock`. The window is extended over the
    header only; a caller that reads the payload extends it further."""
    # two varints; 11 bytes each tells an overlong varint from one cut
    # by the window, as on the whole file
    win.ensure(pos, pos + 22)
    count, p = _read_long(win.buf, pos - win.base)
    if not 0 <= count <= MAX_BLOCK_RECORDS:
        raise CorruptBlock(f"record count {count} out of bounds")
    size, p = _read_long(win.buf, p)
    p += win.base
    if not 0 <= size <= MAX_BLOCK_BYTES or p + size + SYNC_SIZE > win.size:
        raise CorruptBlock(f"block size {size} exceeds file")
    return count, p, size


def _block_headers(data):
    """``(block_start, count, payload_start, payload_size)`` per block,
    from the block HEADERS alone: payloads are skipped, never decoded.
    ``data`` is the container's bytes or a fresh :class:`ByteWindow`
    over it (memory O(chunk + block) for any file size)."""
    win = data if isinstance(data, ByteWindow) else ByteWindow.of(data)
    _, _, _, pos = win.read_header()
    while pos < win.size:
        count, p, size = _block_head(win, pos)
        yield pos, count, p, size
        pos = p + size + SYNC_SIZE


def block_spans(data) -> list[tuple[int, int, int, int]]:
    """Structural walk for the corruption-injection tests:
    [(block_start, payload_start, payload_size, end_after_sync), ...]."""
    return [(s, p, size, p + size + SYNC_SIZE) for s, _, p, size in _block_headers(data)]


def block_stats(data) -> tuple[int, int, int]:
    """Metadata-only container stats: (n_blocks, n_records, payload_bytes)
    read from the block HEADERS alone — the payloads are skipped, so the
    walk is O(#blocks), not O(#records). At 100 TB this is the cheap
    first pass of any fleet audit: record counts and compression ratios
    for every object without decoding a single value. ``data`` is bytes
    or a fresh :class:`ByteWindow`."""
    blocks = records = payload = 0
    for _, count, _, size in _block_headers(data):
        blocks += 1
        records += count
        payload += size
    return blocks, records, payload


@dataclass
class SalvageResult:
    header_ok: bool
    schema: dict | None = None
    records: list = field(default_factory=list)
    n_records: int = 0  # salvaged, whether or not ``records`` kept them
    n_blocks_ok: int = 0
    n_blocks_resynced: int = 0  # payload fine, trailing sync damaged
    n_blocks_bad: int = 0
    errors: list[str] = field(default_factory=list)
    sync: bytes = b""
    # The kept bytes, as ``(start, end)`` runs each followed by ``sync``
    # in a repaired copy: the header without its marker (in a
    # :func:`salvage_range` walk from offset 0), then every kept block
    # without its trailing marker. Blocks joined by intact markers share
    # one run, so there are O(damaged blocks) runs (:func:`write_salvaged`).
    runs: list[tuple[int, int]] = field(default_factory=list)

    @property
    def healthy(self) -> bool:
        return (
            self.header_ok
            and self.n_blocks_bad == 0
            and self.n_blocks_resynced == 0
        )

    @property
    def status(self) -> str:
        """``healthy``; ``repaired`` when the header survived but some
        block did not; ``unrepairable`` when the header is destroyed."""
        if self.healthy:
            return "healthy"
        return "repaired" if self.header_ok else "unrepairable"


class ByteWindow:
    """A bounded, forward-moving view of one container file: ``buf``
    holds the file's bytes ``[base, base + len(buf))``.

    :meth:`ensure` extends it by reads of at least ``chunk`` bytes
    (default ``_CHUNK``) and first drops the prefix a walk has moved
    past, so walking any byte range holds about one chunk plus one
    block, never the file. A file no larger than one chunk is read by
    the first extension and never trimmed. Over in-memory bytes
    (:meth:`of`) nothing is ever read."""

    def __init__(self, f, size: int, chunk: int | None = None):
        self.f, self.size, self.chunk = f, size, chunk or _CHUNK
        self.buf, self.base = b"", 0  # the file is read from offset 0

    @classmethod
    def of(cls, data: bytes) -> "ByteWindow":
        win = cls(None, len(data), chunk=len(data))
        win.buf = data
        return win

    def ensure(self, pos: int, to: int) -> None:
        """Cover ``[pos, to)``, or up to EOF. The walk never looks back
        before ``pos``, so the bytes before it go once they exceed a
        chunk; a ``pos`` past the bytes read (a header-only walk skips
        payloads) is a seek, not a read of the gap."""
        if pos > self.base + len(self.buf):
            self.f.seek(pos)
            self.buf, self.base = b"", pos
        elif pos - self.base > self.chunk:
            self.buf = self.buf[pos - self.base :]
            self.base = pos
        have = self.base + len(self.buf)
        if have >= to or have >= self.size:
            return
        parts = [self.buf]
        while have < to and have < self.size:
            got = self.f.read(max(self.chunk, to - have))
            if not got:
                break
            parts.append(got)
            have += len(got)
        self.buf = b"".join(parts)

    def find(self, needle: bytes, at: int) -> int:
        """Offset of the first ``needle`` at or after ``at``, reading
        forward chunk by chunk; -1 if there is none before EOF."""
        if at > self.base + len(self.buf):  # jump, don't read the gap
            self.f.seek(at)
            self.buf, self.base = b"", at
        while True:
            i = self.buf.find(needle, at - self.base)
            if i >= 0:
                return self.base + i
            have = self.base + len(self.buf)
            if have >= self.size:
                return -1
            # keep the last len-1 bytes: a marker may straddle two reads
            at = max(at, have - len(needle) + 1)
            self.ensure(at, have + self.chunk)

    def read_header(self) -> tuple[dict, str, bytes, int]:
        """:func:`read_header` over a growing prefix of the file (the
        header is tiny: schema JSON, codec and sync marker). Call it
        first, on a fresh window."""
        while True:
            try:
                return read_header(self.buf)
            except CorruptHeader:
                have = len(self.buf)
                if have >= self.size or (have >= 4 and self.buf[:4] != MAGIC):
                    raise
                self.buf += self.f.read(min(max(have, 64 * 1024), self.size - have))

    def first_block(self, start: int, end: int, hdr_end: int, sync: bytes) -> int | None:
        """Offset of the first block a byte range ``[start, end)`` owns
        (the blocks whose header offset lies in it), or None. The range
        holding the header starts right after it; a later range starts
        after the first sync marker ENDING at or after ``start`` — the
        marker may begin up to 16 bytes before the range, owned by the
        previous range's last block. This is the splittable-input rule
        of Hadoop's Avro reader."""
        if start <= hdr_end:
            pos = hdr_end
        else:
            at = self.find(sync, start - SYNC_SIZE)
            if at < 0:
                return None
            pos = at + SYNC_SIZE
        return pos if pos < end else None


def salvage_blocks(
    data, schema, codec: str, sync: bytes, pos: int,
    end: int | None = None, decode=None, strict: bool = False,
):
    """The salvage walk from the block at ``pos``: one
    ``(outcome, n_records, records, error, block_start, payload_end)``
    per block; it raises only when ``strict``.
    ``outcome`` is ``"ok"``, ``"resynced"`` (payload decoded
    byte-exactly, trailing sync marker damaged — recovered, like
    avro-tools repair) or ``"bad"`` (no records; the walk scans forward
    to the next sync marker). A kept block's bytes are
    ``[block_start, payload_end)``, its trailing marker excluded.
    Records live one block at a time, so a caller that only counts them
    holds one block's worth, not the file's. ``decode(payload, count)``
    checks a payload and returns its records; the walk takes it
    resolved once, not per block: the strict :func:`block_decoder` of
    ``schema`` by default, its count-only twin
    ``compile_decoder(schema, build=False)`` (no records at all) or a
    :func:`block_decoder` over a reader schema.

    ``strict=True`` is the strict read: the first block that is not
    ``ok`` raises instead of being reported: a damaged marker or a
    broken block as :class:`CorruptBlock` naming the block's offset,
    any other decode failure (schema resolution, invalid UTF-8) as the
    error its decoder raised.

    ``data`` is the whole container or a :class:`ByteWindow` over it.
    With ``end``, the walk owns the blocks whose header offset lies in
    ``[pos, end)``: it stops at the first block at or past ``end`` it
    reached over an intact marker or by a sync scan — the next range's
    :meth:`ByteWindow.first_block` finds that one. A block reached over
    a DAMAGED marker is walked wherever it starts, because no sync scan
    can find it. Summed over ranges tiling the file, the outcomes are
    the whole-file walk's."""
    win = data if isinstance(data, ByteWindow) else ByteWindow.of(data)
    decode = decode or block_decoder(schema)
    n = win.size
    end = n if end is None else end
    damaged = False  # reached over a damaged sync marker
    while pos < n and (pos < end or damaged):
        block_start = pos
        try:
            count, p, size = _block_head(win, pos)
            win.ensure(pos, p + size + SYNC_SIZE)
            buf, base = win.buf, win.base
            payload = _decompress(buf[p - base : p - base + size], codec)
            recs = decode(payload, count)
        except (CorruptBlock, CorruptHeader, ValueError, OverflowError) as exc:
            if strict:
                if isinstance(exc, CorruptBlock):
                    raise CorruptBlock(f"block@{block_start}: {exc}") from exc
                raise
            yield "bad", 0, [], f"block@{block_start}: {exc}", block_start, block_start
            nxt = win.find(sync, block_start + 1)
            if nxt == -1:
                return
            pos = nxt + SYNC_SIZE
            damaged = False
            continue
        tail = p - base + size
        damaged = buf[tail : tail + SYNC_SIZE] != sync
        if damaged:
            if strict:
                raise CorruptBlock(f"block@{block_start}: sync marker damaged")
            yield (
                "resynced", count, recs, f"block@{block_start}: sync marker damaged",
                block_start, p + size,
            )
        else:
            yield "ok", count, recs, "", block_start, p + size
        pos = p + size + SYNC_SIZE


def _tally(res: SalvageResult, walk) -> SalvageResult:
    # a run joins the next kept block over an intact marker: the
    # header's own, or an ``ok`` block's
    joinable = bool(res.runs)
    for outcome, n_records, recs, error, start, end in walk:
        if outcome == "bad":
            res.n_blocks_bad += 1
            joinable = False
        else:
            if outcome == "resynced":
                res.n_blocks_resynced += 1
            else:
                res.n_blocks_ok += 1
            if joinable and res.runs[-1][1] + SYNC_SIZE == start:
                res.runs[-1] = (res.runs[-1][0], end)
            else:
                res.runs.append((start, end))
            joinable = outcome == "ok"
        if error:
            res.errors.append(error)
        res.n_records += n_records
        res.records.extend(recs)
    return res


def _header_decoder(schema, build: bool):
    """A salvage walk's decoder for the schema its header holds: the
    strict :func:`block_decoder` (``build``) or the count-only twin. A
    header whose schema does not compile (a missing key, an unknown or
    named-reference type: see :func:`compile_decoder`) is a bad header,
    reported like one the walk cannot parse, before any block is
    decoded: the salvage never raises, and the file is never
    rewritten."""
    try:
        return block_decoder(schema) if build else compile_decoder(schema, build=False)
    except (KeyError, TypeError, ValueError) as exc:
        raise CorruptHeader(
            f"schema does not compile: {type(exc).__name__}: {exc}"
        ) from exc


def salvage_ocf(data: bytes, keep_records: bool = True) -> SalvageResult:
    """Block-salvage read: never raises. Decodes every block it can,
    resyncs on the 16-byte marker after damage, reports the rest.
    ``keep_records=False`` only counts the salvaged records
    (``n_records``) — a health check of a 2 GiB container then holds
    one block's records, not the file's, and builds no record at all."""
    try:
        schema, codec, sync, pos = read_header(data)
        decode = _header_decoder(schema, keep_records)
    except CorruptHeader as exc:
        return SalvageResult(header_ok=False, errors=[str(exc)])
    return _tally(
        SalvageResult(header_ok=True, schema=schema),
        salvage_blocks(data, schema, codec, sync, pos, decode=decode),
    )


def salvage_range(f, size: int, start: int, end: int, chunk: int | None = None) -> SalvageResult:
    """Count-only salvage of the blocks one byte range ``[start, end)``
    of a container owns (see :func:`salvage_blocks`), read from the
    seekable file ``f`` of ``size`` bytes through a :class:`ByteWindow`:
    the header prefix, the range, and the tail of its last block.
    Every range reports the header verdict; the block and record
    counters of ranges tiling ``[0, size)`` sum to
    ``salvage_ocf(file, keep_records=False)``'s. The range at offset 0
    also keeps the header's run, so the whole-file range ``[0, size)``
    is what :func:`write_salvaged` repairs from."""
    win = ByteWindow(f, size, chunk)
    try:
        schema, codec, sync, hdr_end = win.read_header()
        counter = _header_decoder(schema, False)
    except CorruptHeader as exc:
        return SalvageResult(header_ok=False, errors=[str(exc)])
    runs = [(0, hdr_end - SYNC_SIZE)] if start == 0 else []
    res = SalvageResult(header_ok=True, schema=schema, sync=sync, runs=runs)
    pos = win.first_block(start, end, hdr_end, sync)
    if pos is None:
        return res
    return _tally(res, salvage_blocks(win, schema, codec, sync, pos, end, counter))


def write_salvaged(f, out, res: SalvageResult) -> int:
    """Block passthrough: write the repaired container of a whole-file
    salvage ``res`` of the seekable file ``f`` to the stream ``out``;
    returns the bytes written.

    The input's header is copied verbatim (schema, codec, metadata, sync
    marker), then every block the walk kept, byte for byte — count and
    size varints and the still-compressed payload — each followed by the
    file's own sync marker, so a ``resynced`` block gets a clean one and
    a ``bad`` block is gone. Nothing is decoded or re-encoded: the
    walk's count-only decode already checked each kept payload. The
    runs are copied by ``_CHUNK``-byte reads, so memory is O(chunk)
    for any file size; a healthy file comes out byte-identical."""
    if not (res.header_ok and res.runs and res.runs[0][0] == 0):
        raise ValueError("write_salvaged needs a whole-file salvage with an intact header")
    for start, end in res.runs:
        f.seek(start)
        at = start
        while at < end:
            got = f.read(min(_CHUNK, end - at))
            if not got:
                raise CorruptBlock(f"file ends at {at}, before its salvaged blocks")
            out.write(got)
            at += len(got)
        out.write(res.sync)
    return sum(end - start + SYNC_SIZE for start, end in res.runs)


def read_ocf(data: bytes) -> tuple[dict, list]:
    """Strict full read (the analog of avro-tools ``cat`` over 100% of
    records): raises on ANY corruption. Returns (schema, records)."""
    res = salvage_ocf(data)
    if not res.header_ok:
        raise CorruptHeader("; ".join(res.errors))
    if not res.healthy:
        raise CorruptBlock("; ".join(res.errors))
    return res.schema, res.records


# ---------------------------------------------------------------------------
# schema resolution (Avro spec §Schema Resolution): reader-schema reads
# ---------------------------------------------------------------------------

# writer type -> {reader type it may be read as: value conversion, or
# None when the writer's decoded value is already the reader's}
_PROMOTIONS = {
    "int": {"int": None, "long": None, "float": float, "double": float},
    "long": {"long": None, "float": float, "double": float},
    "float": {"float": None, "double": None},
    "double": {"double": None},
    "string": {"string": None, "bytes": str.encode},
    "bytes": {"bytes": None, "string": bytes.decode},
}


class SchemaResolutionError(ValueError):
    """Writer and reader schemas cannot be matched per the spec."""


def compile_resolved_decoder(writer, reader):
    """A decoder ``(buf, pos) -> (value, pos)`` of bytes written with
    ``writer``, read as the ``reader`` schema — the Avro
    schema-evolution read (spec §Schema Resolution). The plan is built
    once per (writer, reader) pair, as a tree of closures over
    :func:`compile_decoder`'s generated code:

    - record fields matched BY NAME: a run of writer-only fields is
      skipped by one generated skipper (nothing is built), reader-only
      fields take their declared ``default``;
    - primitive promotions int->long/float/double, long->float/double,
      float->double, string<->bytes, applied to the writer decoder's
      value;
    - a writer union resolves its tagged branch against the reader;
      a reader union takes the first branch that resolves, trying the
      next one when a branch raises :class:`SchemaResolutionError`;
    - arrays and maps resolve their items; enums resolve by symbol
      NAME, a symbol the reader lacks taking the reader's ``default``;
      fixed sizes must match.

    Resolution errors stay LAZY: a mismatch raises
    :class:`SchemaResolutionError` when a value that needs it is
    decoded, per record, so a zero-record file still reads clean. A
    schema that does not compile raises here, as
    :func:`compile_decoder` does.

    This is what lets a 100 TB scan apply TODAY'S schema to years of
    heterogeneously-written files in one pass."""
    try:
        return _resolve(writer, reader)
    except SchemaResolutionError as exc:
        msg = str(exc)

        def d_unresolved(buf, pos):
            raise SchemaResolutionError(msg)

        return d_unresolved


def _read_count(buf, pos: int, what: str) -> tuple[int, int]:
    """The item count of an array or map block, its byte size (present
    when the count is negative) skipped."""
    count, pos = _read_long(buf, pos)
    if count < 0:
        count = -count
        _, pos = _read_long(buf, pos)
    if count > MAX_BLOCK_RECORDS:
        raise CorruptBlock(f"{what} count out of bounds")
    return count, pos


def _resolve(writer, reader):
    """:func:`compile_resolved_decoder`'s planner: raises
    :class:`SchemaResolutionError` at once when the pair cannot match
    whatever the bytes hold; every nested value is planned lazily."""
    wt, rt = _schema_type(writer), _schema_type(reader)
    if wt == "union":
        branches = [compile_resolved_decoder(w, reader) for w in writer]

        def d_writer_union(buf, pos):
            idx, pos = _read_long(buf, pos)
            if not 0 <= idx < len(branches):
                raise CorruptBlock(f"union index {idx} out of range")
            return branches[idx](buf, pos)

        return d_writer_union
    if rt == "union":
        branches = []
        for r in reader:
            try:
                branches.append(_resolve(writer, r))
            except SchemaResolutionError:
                continue
        msg = f"writer {wt} matches no reader union branch"
        if not branches:
            raise SchemaResolutionError(msg)

        def d_reader_union(buf, pos):
            for dec in branches:
                try:
                    return dec(buf, pos)
                except SchemaResolutionError:
                    continue
            raise SchemaResolutionError(msg)

        return d_reader_union
    if wt == rt == "record":
        rfields = {f["name"]: f for f in reader["fields"]}
        wnames = {f["name"] for f in writer["fields"]}
        steps = []  # (name, decoder), or (None, skipper) for a dropped run
        for kept, run in itertools.groupby(writer["fields"], lambda f: f["name"] in rfields):
            if kept:
                steps += [
                    (f["name"], compile_resolved_decoder(f["type"], rfields[f["name"]]["type"]))
                    for f in run
                ]
            else:
                skipped = {"type": "record", "name": "skipped", "fields": list(run)}
                steps.append((None, _codegen(skipped, "skip")))
        defaults = [
            (f["name"], f.get("default"), "default" in f)
            for f in reader["fields"]
            if f["name"] not in wnames
        ]

        def d_record(buf, pos):
            rec = {}
            for name, dec in steps:
                if name is None:
                    pos = dec(buf, pos)
                else:
                    rec[name], pos = dec(buf, pos)
            for name, value, has in defaults:
                if not has:
                    raise SchemaResolutionError(
                        f"reader field {name} missing and has no default"
                    )
                rec[name] = value
            return rec, pos

        return d_record
    if wt == rt == "array":
        item = compile_resolved_decoder(writer["items"], reader["items"])

        def d_array(buf, pos):
            items = []
            while True:
                count, pos = _read_count(buf, pos, "array")
                if not count:
                    return items, pos
                for _ in range(count):
                    v, pos = item(buf, pos)
                    items.append(v)

        return d_array
    if wt == rt == "map":
        key = _codegen("string", "build")
        value = compile_resolved_decoder(writer["values"], reader["values"])

        def d_map(buf, pos):
            entries = {}
            while True:
                count, pos = _read_count(buf, pos, "map")
                if not count:
                    return entries, pos
                for _ in range(count):
                    k, pos = key(buf, pos)
                    entries[k], pos = value(buf, pos)

        return d_map
    # a leaf: the writer's generated decoder, its value converted
    conv = None
    if wt == rt == "enum":
        symbols, has_default = set(reader["symbols"]), "default" in reader

        def conv(sym):
            if sym in symbols:
                return sym
            if has_default:
                return reader["default"]
            raise SchemaResolutionError(
                f"writer enum symbol {sym!r} absent from reader (no default)"
            )
    elif wt == rt == "fixed":
        if writer["size"] != reader["size"]:
            raise SchemaResolutionError("fixed size mismatch between schemas")
    elif wt == rt or rt in _PROMOTIONS.get(wt, {}):
        conv = _PROMOTIONS.get(wt, {}).get(rt)
    else:
        raise SchemaResolutionError(f"cannot read writer {wt} as reader {rt}")
    base = _codegen(writer, "build")
    if conv is None:
        return base

    def d_converted(buf, pos):
        v, pos = base(buf, pos)
        return conv(v), pos

    return d_converted


def sampled_validate(
    data, decode_every: int = 100, limit: int = 1_000_000
) -> tuple[bool, int, str]:
    """Sampled health check — the reference's actual validation mode
    (``cat --limit 1000000 --samplerate .01``, repair-avro.ts:131 +
    application.yml:6-7), with a SYSTEMATIC 1-in-``decode_every`` block
    sample instead of RNG so the verdict is deterministic.

    The structural walk (header, block count/size bounds, sync markers)
    still covers EVERY block — truncation, bad sizes, and damaged sync
    markers are always caught; only per-record payload decoding is
    sampled, so payload-only corruption inside an unsampled block is
    missed, exactly the blind spot the reference accepts for its 100x
    cost saving. ``data`` is the container's bytes or a fresh
    :class:`ByteWindow` over it (memory O(chunk + block)). Returns
    (healthy, n_records_checked, error)."""
    win = data if isinstance(data, ByteWindow) else ByteWindow.of(data)
    try:
        schema, codec, sync, pos = win.read_header()
        decode = _header_decoder(schema, False)
    except CorruptHeader as exc:
        return False, 0, str(exc)
    n = win.size
    block_no = checked = 0
    while pos < n and checked < limit:
        try:
            count, p, size = _block_head(win, pos)
            win.ensure(pos, p + size + SYNC_SIZE)
            buf, base = win.buf, win.base
            q = p - base
            if buf[q + size : q + size + SYNC_SIZE] != sync:
                raise CorruptBlock("sync marker mismatch")
            if block_no % decode_every == 0:  # the sampled payload decode
                decode(_decompress(buf[q : q + size], codec), count)
                checked += count
        except (CorruptBlock, CorruptHeader, ValueError, OverflowError) as exc:
            return False, checked, f"block@{pos}: {exc}"
        pos = p + size + SYNC_SIZE
        block_no += 1
    return True, checked, ""
