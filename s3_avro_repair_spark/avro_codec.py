"""Pure-Python Avro Object Container File (OCF) codec with block salvage.

This is the repo's only hand-written data-level code — everything else
is declarative DataFrame programs. It replaces the avro-tools jar the
reference shells out to (``/root/reference/src/services/repair-avro.ts:131``
``cat`` == :func:`read_ocf`, ``:149`` ``repair`` == :func:`salvage_ocf`)
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

Everything here runs inside executors (``mapInPandas`` over
``binaryFile`` rows, the CLI's per-bin tasks, the ``avro_ocf``
DataSource) — never on the driver, never a whole-directory
buffer; one file's bytes at a time, exactly the unit the reference
processed sequentially (``repair-avro.ts:52-71``) but parallelized
per-task.
"""

from __future__ import annotations

import bz2
import datetime as _dt
import hashlib
import io
import json
import lzma
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


def decode_value(schema, buf: bytes, pos: int):
    t = _schema_type(schema)
    if t == "null":
        return None, pos
    if t == "boolean":
        if pos >= len(buf):
            raise CorruptBlock("boolean past end")
        b = buf[pos]
        if b not in (0, 1):
            raise CorruptBlock(f"invalid boolean byte {b}")
        return b == 1, pos + 1
    if t in ("int", "long"):
        return _read_long(buf, pos)
    if t == "float":
        if pos + 4 > len(buf):
            raise CorruptBlock("float past end")
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        if pos + 8 > len(buf):
            raise CorruptBlock("double past end")
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "bytes":
        return _read_sized(buf, pos)
    if t == "string":
        raw, pos = _read_sized(buf, pos)
        try:
            return raw.decode("utf-8"), pos
        except UnicodeDecodeError as exc:
            raise CorruptBlock(f"invalid utf-8 string: {exc}") from exc
    if t == "record":
        rec = {}
        for f in schema["fields"]:
            rec[f["name"]], pos = decode_value(f["type"], buf, pos)
        return rec, pos
    if t == "array":
        items = []
        while True:
            count, pos = _read_long(buf, pos)
            if count == 0:
                return items, pos
            if count < 0:  # negative count: abs(count) items + byte size
                count = -count
                _, pos = _read_long(buf, pos)
            if count > MAX_BLOCK_RECORDS:
                raise CorruptBlock("array count out of bounds")
            for _ in range(count):
                item, pos = decode_value(schema["items"], buf, pos)
                items.append(item)
    if t == "map":
        entries = {}
        while True:
            count, pos = _read_long(buf, pos)
            if count == 0:
                return entries, pos
            if count < 0:
                count = -count
                _, pos = _read_long(buf, pos)
            if count > MAX_BLOCK_RECORDS:
                raise CorruptBlock("map count out of bounds")
            for _ in range(count):
                kraw, pos = _read_sized(buf, pos)
                entries[kraw.decode("utf-8")], pos = decode_value(
                    schema["values"], buf, pos
                )
    if t == "union":
        idx, pos = _read_long(buf, pos)
        if not 0 <= idx < len(schema):
            raise CorruptBlock(f"union index {idx} out of range")
        return decode_value(schema[idx], buf, pos)
    if t == "enum":
        idx, pos = _read_long(buf, pos)
        symbols = schema["symbols"]
        if not 0 <= idx < len(symbols):
            raise CorruptBlock(f"enum index {idx} out of range")
        return symbols[idx], pos
    if t == "fixed":
        size = schema["size"]
        if pos + size > len(buf):
            raise CorruptBlock("fixed past end")
        return buf[pos : pos + size], pos + size
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


_DECODER_CACHE: dict[str, object] = {}


def compile_decoder(schema):
    """Source-codegen a decoder specialized to ``schema`` (the fastavro
    approach): one generated function decodes a whole top-level value
    with varints, strings, and scalars INLINED — no per-value schema
    dispatch, no per-field Python call. The r8 profile put 94% of
    snappy-scan time in :func:`decode_value`'s recursive dispatch
    (the decompress+CRC path the round set out to optimize measured
    ~1%), and every block of every file re-pays it; the generated
    decoder is the same state machine flattened.

    Semantics are IDENTICAL to decode_value by construction: the
    generated code raises the same :class:`CorruptBlock` messages from
    the same conditions (the corruption-injection suite pins them),
    and subtypes the generator does not inline (arrays, maps, enums,
    fixed) fall back to decode_value itself; nested records compile
    recursively. Cached per schema JSON — one codegen per schema per
    worker process, microseconds against millions of avoided calls."""
    key = json.dumps(schema, sort_keys=True)
    fn = _DECODER_CACHE.get(key)
    if fn is not None:
        return fn

    ns: dict[str, object] = {
        "unpack_from": struct.unpack_from,
        "CorruptBlock": CorruptBlock,
        "decode_value": decode_value,
    }
    lines: list[str] = ["def _decoder(buf, pos):", "    blen = len(buf)"]
    n_fallbacks = [0]

    def varint(ind: str, out: str) -> None:
        lines.extend(
            [
                f"{ind}acc = 0",
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
                f"{ind}    acc |= (b & 0x7F) << shift",
                f"{ind}    if not (b & 0x80):",
                f"{ind}        break",
                f"{ind}    shift += 7",
                f"{ind}{out} = (acc >> 1) ^ -(acc & 1)",
            ]
        )

    def emit(s, ind: str, out: str) -> None:
        t = _schema_type(s)
        if t == "null":
            lines.append(f"{ind}{out} = None")
        elif t == "boolean":
            lines.extend(
                [
                    f"{ind}if pos >= blen:",
                    f"{ind}    raise CorruptBlock('boolean past end')",
                    f"{ind}b = buf[pos]",
                    f"{ind}if b > 1:",
                    f"{ind}    raise CorruptBlock("
                    "'invalid boolean byte %d' % b)",
                    f"{ind}{out} = b == 1",
                    f"{ind}pos += 1",
                ]
            )
        elif t in ("int", "long"):
            varint(ind, out)
        elif t == "float":
            lines.extend(
                [
                    f"{ind}if pos + 4 > blen:",
                    f"{ind}    raise CorruptBlock('float past end')",
                    f"{ind}{out} = unpack_from('<f', buf, pos)[0]",
                    f"{ind}pos += 4",
                ]
            )
        elif t == "double":
            lines.extend(
                [
                    f"{ind}if pos + 8 > blen:",
                    f"{ind}    raise CorruptBlock('double past end')",
                    f"{ind}{out} = unpack_from('<d', buf, pos)[0]",
                    f"{ind}pos += 8",
                ]
            )
        elif t in ("bytes", "string"):
            varint(ind, "size_")
            lines.extend(
                [
                    f"{ind}if size_ < 0 or pos + size_ > blen:",
                    f"{ind}    raise CorruptBlock("
                    "'sized value of %d bytes exceeds buffer' % size_)",
                    f"{ind}raw_ = buf[pos:pos + size_]",
                    f"{ind}pos += size_",
                ]
            )
            if t == "bytes":
                lines.append(f"{ind}{out} = raw_")
            else:
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
            varint(ind, "idx_")
            lines.extend(
                [
                    f"{ind}if not 0 <= idx_ < {len(s)}:",
                    f"{ind}    raise CorruptBlock("
                    "'union index %d out of range' % idx_)",
                ]
            )
            for i, branch in enumerate(s):
                lines.append(f"{ind}{'if' if i == 0 else 'elif'} idx_ == {i}:")
                emit(branch, ind + "    ", out)
        elif t == "record":
            sub = f"_rec{n_fallbacks[0]}"
            n_fallbacks[0] += 1
            ns[sub] = compile_decoder(s)
            lines.append(f"{ind}{out}, pos = {sub}(buf, pos)")
        else:  # array / map / enum / fixed: rare in row data — delegate
            sub = f"_sch{n_fallbacks[0]}"
            n_fallbacks[0] += 1
            ns[sub] = s
            lines.append(f"{ind}{out}, pos = decode_value({sub}, buf, pos)")

    if _schema_type(schema) == "record":
        pairs = []
        for i, f in enumerate(schema["fields"]):
            emit(f["type"], "    ", f"v{i}")
            pairs.append(f"{f['name']!r}: v{i}")
        lines.append(f"    return {{{', '.join(pairs)}}}, pos")
    else:
        emit(schema, "    ", "v0")
        lines.append("    return v0, pos")

    exec("\n".join(lines), ns)  # noqa: S102 — self-generated source only
    fn = ns["_decoder"]
    # Bounded FIFO: evict the OLDEST entry (dict preserves insertion
    # order), never clear() — a fleet cycling through >64 schemas would
    # otherwise recompile every decoder per rotation, and a clear()
    # fired by a nested-record compile mid-recursion would evict the
    # sub-decoders the outer codegen just bound (ADVICE r8).
    while len(_DECODER_CACHE) > 64:
        _DECODER_CACHE.pop(next(iter(_DECODER_CACHE)))
    _DECODER_CACHE[key] = fn
    return fn


def _decode_block(payload: bytes, schema, count: int) -> list:
    """Strict: exactly `count` records consuming exactly the payload."""
    recs = []
    pos = 0
    dec = compile_decoder(schema)
    for _ in range(count):
        rec, pos = dec(payload, pos)
        recs.append(rec)
    if pos != len(payload):
        raise CorruptBlock(f"{len(payload) - pos} trailing bytes in block")
    return recs


def block_spans(data: bytes) -> list[tuple[int, int, int, int]]:
    """Structural walk for the corruption-injection tests:
    [(block_start, payload_start, payload_size, end_after_sync), ...]."""
    _, _, sync, pos = read_header(data)
    spans = []
    while pos < len(data):
        start = pos
        count, p = _read_long(data, pos)
        size, p = _read_long(data, p)
        if count < 0 or size < 0 or p + size + SYNC_SIZE > len(data):
            raise CorruptBlock("bad block structure")
        spans.append((start, p, size, p + size + SYNC_SIZE))
        pos = p + size + SYNC_SIZE
    return spans


def block_stats(data: bytes) -> tuple[int, int, int]:
    """Metadata-only container stats: (n_blocks, n_records, payload_bytes)
    read from the block HEADERS alone — the payloads are skipped, so the
    walk is O(#blocks), not O(#records). At 100 TB this is the cheap
    first pass of any fleet audit: record counts and compression ratios
    for every object without decoding a single value."""
    _, _, _, pos = read_header(data)
    blocks = records = payload = 0
    while pos < len(data):
        count, p = _read_long(data, pos)
        size, p = _read_long(data, p)
        if count < 0 or size < 0 or p + size + SYNC_SIZE > len(data):
            raise CorruptBlock("bad block structure")
        blocks += 1
        records += count
        payload += size
        pos = p + size + SYNC_SIZE
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

    @property
    def healthy(self) -> bool:
        return (
            self.header_ok
            and self.n_blocks_bad == 0
            and self.n_blocks_resynced == 0
        )

    @property
    def repairable(self) -> bool:
        return self.header_ok


def salvage_blocks(data: bytes, schema, codec: str, sync: bytes, pos: int):
    """The salvage walk from the first block at ``pos``: one
    ``(outcome, records, error)`` per block, never raises. ``outcome``
    is ``"ok"``, ``"resynced"`` (payload decoded byte-exactly, trailing
    sync marker damaged — recovered, like avro-tools repair) or
    ``"bad"`` (no records; the walk scans forward to the next sync
    marker). Records live one block at a time, so a caller that only
    counts them holds one block's worth, not the file's."""
    n = len(data)
    while pos < n:
        block_start = pos
        try:
            count, p = _read_long(data, pos)
            if not 0 <= count <= MAX_BLOCK_RECORDS:
                raise CorruptBlock(f"record count {count} out of bounds")
            size, p = _read_long(data, p)
            if not 0 <= size <= MAX_BLOCK_BYTES or p + size + SYNC_SIZE > n:
                raise CorruptBlock(f"block size {size} exceeds file")
            payload = _decompress(data[p : p + size], codec)
            recs = _decode_block(payload, schema, count)
        except (CorruptBlock, CorruptHeader, ValueError, OverflowError) as exc:
            yield "bad", [], f"block@{block_start}: {exc}"
            nxt = data.find(sync, block_start + 1)
            if nxt == -1:
                return
            pos = nxt + SYNC_SIZE
            continue
        if data[p + size : p + size + SYNC_SIZE] != sync:
            yield "resynced", recs, f"block@{block_start}: sync marker damaged"
        else:
            yield "ok", recs, ""
        pos = p + size + SYNC_SIZE


def salvage_ocf(data: bytes, keep_records: bool = True) -> SalvageResult:
    """Block-salvage read: never raises. Decodes every block it can,
    resyncs on the 16-byte marker after damage, reports the rest.
    ``keep_records=False`` only counts the salvaged records
    (``n_records``) — a health check of a 2 GiB container then holds
    one block's records, not the file's."""
    try:
        schema, codec, sync, pos = read_header(data)
    except CorruptHeader as exc:
        return SalvageResult(header_ok=False, errors=[str(exc)])
    res = SalvageResult(header_ok=True, schema=schema)
    for outcome, recs, error in salvage_blocks(data, schema, codec, sync, pos):
        if outcome == "bad":
            res.n_blocks_bad += 1
        elif outcome == "resynced":
            res.n_blocks_resynced += 1
        else:
            res.n_blocks_ok += 1
        if error:
            res.errors.append(error)
        res.n_records += len(recs)
        if keep_records:
            res.records.extend(recs)
    return res


def salvaged_records(data: bytes):
    """Every record :func:`salvage_ocf` would keep, streamed block by
    block (a repair rewrite feeds this to :func:`write_ocf`). The
    header must be intact."""
    schema, codec, sync, pos = read_header(data)
    for _outcome, recs, _error in salvage_blocks(data, schema, codec, sync, pos):
        yield from recs


def read_ocf(data: bytes) -> tuple[dict, list]:
    """Strict full read (the analog of avro-tools ``cat`` over 100% of
    records): raises on ANY corruption. Returns (schema, records)."""
    res = salvage_ocf(data)
    if not res.header_ok:
        raise CorruptHeader("; ".join(res.errors))
    if not res.healthy:
        raise CorruptBlock("; ".join(res.errors))
    return res.schema, res.records


def read_ocf_logical(data: bytes) -> tuple[dict, list]:
    """Strict read with logicalType materialization: decimal -> Decimal,
    date -> datetime.date, timestamp-* -> tz-aware datetime. The typed
    counterpart of read_ocf for consumers that want declared semantics
    instead of raw renditions (avro-tools ``tojson`` behavior)."""
    schema, recs = read_ocf(data)
    return schema, [materialize_logical(schema, r) for r in recs]


# ---------------------------------------------------------------------------
# schema resolution (Avro spec §Schema Resolution): reader-schema reads
# ---------------------------------------------------------------------------

# writer type -> allowed reader promotions (spec table)
_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
}


class SchemaResolutionError(ValueError):
    """Writer and reader schemas cannot be matched per the spec."""


def decode_resolved(writer, reader, buf: bytes, pos: int):
    """Decode bytes written with ``writer`` as the ``reader`` schema —
    the Avro schema-evolution read (spec §Schema Resolution):

    - record fields matched BY NAME: writer-only fields are skipped
      (their bytes decoded and discarded), reader-only fields take
      their declared ``default``;
    - primitive promotions int->long/float/double, long->float/double,
      float->double, string<->bytes;
    - writer unions resolve their tagged branch against the reader
      type; reader unions accept the writer type via first matching
      branch.

    This is what lets a 100 TB scan apply TODAY'S schema to years of
    heterogeneously-written files in one pass.
    """
    wt, rt = _schema_type(writer), _schema_type(reader)
    if wt == "union":
        idx, pos = _read_long(buf, pos)
        if not 0 <= idx < len(writer):
            raise CorruptBlock(f"union index {idx} out of range")
        return decode_resolved(writer[idx], reader, buf, pos)
    if rt == "union":
        for branch in reader:
            try:
                return decode_resolved(writer, branch, buf, pos)
            except SchemaResolutionError:
                continue
        raise SchemaResolutionError(f"writer {wt} matches no reader union branch")
    if wt == "record" and rt == "record":
        wfields = {f["name"]: f for f in writer["fields"]}
        rnames = {f["name"] for f in reader["fields"]}
        rec = {}
        # writer order governs the byte stream
        for wf in writer["fields"]:
            if wf["name"] in rnames:
                rf = next(f for f in reader["fields"] if f["name"] == wf["name"])
                rec[wf["name"]], pos = decode_resolved(
                    wf["type"], rf["type"], buf, pos
                )
            else:  # skipped: decode with the writer schema, discard
                _, pos = decode_value(wf["type"], buf, pos)
        for rf in reader["fields"]:
            if rf["name"] not in wfields:
                if "default" not in rf:
                    raise SchemaResolutionError(
                        f"reader field {rf['name']} missing and has no default"
                    )
                rec[rf["name"]] = rf["default"]
        return rec, pos
    if wt == "array" and rt == "array":
        items = []
        while True:
            count, pos = _read_long(buf, pos)
            if count == 0:
                return items, pos
            if count < 0:
                count = -count
                _, pos = _read_long(buf, pos)
            for _ in range(count):
                item, pos = decode_resolved(writer["items"], reader["items"], buf, pos)
                items.append(item)
    if wt == "map" and rt == "map":
        entries = {}
        while True:
            count, pos = _read_long(buf, pos)
            if count == 0:
                return entries, pos
            if count < 0:
                count = -count
                _, pos = _read_long(buf, pos)
            if count > MAX_BLOCK_RECORDS:
                raise CorruptBlock("map count out of bounds")
            for _ in range(count):
                kraw, pos = _read_sized(buf, pos)
                entries[kraw.decode("utf-8")], pos = decode_resolved(
                    writer["values"], reader["values"], buf, pos
                )
    if wt == "enum" and rt == "enum":
        # spec: match by symbol NAME against the reader's symbol list;
        # a writer symbol the reader lacks resolves to the reader's
        # declared enum default (Avro 1.9+) or errors loudly.
        idx, pos = _read_long(buf, pos)
        wsyms = writer["symbols"]
        if not 0 <= idx < len(wsyms):
            raise CorruptBlock(f"enum index {idx} out of range")
        sym = wsyms[idx]
        if sym in reader["symbols"]:
            return sym, pos
        if "default" in reader:
            return reader["default"], pos
        raise SchemaResolutionError(
            f"writer enum symbol {sym!r} absent from reader (no default)"
        )
    if wt == "fixed" and rt == "fixed":
        if writer["size"] != reader["size"]:
            raise SchemaResolutionError("fixed size mismatch between schemas")
        return decode_value(writer, buf, pos)
    if wt == rt or rt in _PROMOTIONS.get(wt, ()):  # identity or promotion
        val, pos = decode_value(writer, buf, pos)
        if rt in ("float", "double") and wt in ("int", "long"):
            val = float(val)
        elif rt == "long" and wt == "int":
            val = int(val)
        elif rt == "string" and wt == "bytes":
            val = val.decode("utf-8")
        elif rt == "bytes" and wt == "string":
            val = val.encode("utf-8")
        return val, pos
    raise SchemaResolutionError(f"cannot read writer {wt} as reader {rt}")


def compile_resolved_decoder(writer, reader):
    """Precompile the schema-resolution plan :func:`decode_resolved`
    re-derives PER RECORD (field-name dict builds, linear reader-field
    scans, per-value type dispatch) into a closure tree built once per
    (writer, reader) pair. Record plans pair each writer field with
    either a compiled resolved decoder (kept field), a compiled
    writer-schema decoder whose value is discarded (skipped field — the
    projected-scan fast path), or a lazily-raising default slot;
    identity/promotion leaves reuse :func:`compile_decoder`'s generated
    code. Shapes the compiler does not plan (unions, arrays, maps,
    enums, fixed) fall back to decode_resolved itself — identical
    semantics, just not precompiled. Resolution errors stay LAZY (the
    missing-default raise fires per record, exactly like the
    interpreter) so a zero-record file still reads clean."""
    wt, rt = _schema_type(writer), _schema_type(reader)
    if wt == "record" and rt == "record":
        rfields = {f["name"]: f for f in reader["fields"]}
        wnames = {f["name"] for f in writer["fields"]}
        steps = []
        for wf in writer["fields"]:
            rf = rfields.get(wf["name"])
            if rf is None:  # skipped: decode with the writer schema, discard
                steps.append((None, compile_decoder(wf["type"])))
            else:
                steps.append(
                    (wf["name"], compile_resolved_decoder(wf["type"], rf["type"]))
                )
        defaults = []
        for rf in reader["fields"]:
            if rf["name"] not in wnames:
                defaults.append(
                    (rf["name"], rf.get("default"), "default" in rf)
                )

        def d_rec(buf, pos):
            rec = {}
            for name, fd in steps:
                v, pos = fd(buf, pos)
                if name is not None:
                    rec[name] = v
            for name, dv, has in defaults:
                if not has:
                    raise SchemaResolutionError(
                        f"reader field {name} missing and has no default"
                    )
                rec[name] = dv
            return rec, pos

        return d_rec
    if wt not in ("union", "array", "map", "enum", "fixed", "record") and (
        wt == rt or rt in _PROMOTIONS.get(wt, ())
    ):
        base = compile_decoder(writer)
        if rt in ("float", "double") and wt in ("int", "long"):
            conv = float
        elif rt == "long" and wt == "int":
            conv = int
        elif rt == "string" and wt == "bytes":
            conv = lambda b: b.decode("utf-8")  # noqa: E731
        elif rt == "bytes" and wt == "string":
            conv = lambda s: s.encode("utf-8")  # noqa: E731
        else:
            return base  # identity leaf: the codegen decoder as-is

        def d_conv(buf, pos):
            v, pos = base(buf, pos)
            return conv(v), pos

        return d_conv

    def d_fallback(buf, pos):
        return decode_resolved(writer, reader, buf, pos)

    return d_fallback


def read_ocf_resolved(data: bytes, reader_schema, logical: bool = False) -> list:
    """Strict full read applying a reader schema (schema evolution).
    ``logical=True`` additionally materializes the READER schema's
    logicalType annotations on the resolved values — evolution and
    logical types compose (e.g. a reader that adds a decimal column
    default, or re-reads a raw-bytes writer column under a decimal
    annotation)."""
    writer, codec, sync, pos = read_header(data)
    resolved = compile_resolved_decoder(writer, reader_schema)
    records = []
    n = len(data)
    while pos < n:
        count, p = _read_long(data, pos)
        size, p = _read_long(data, p)
        if count < 0 or size < 0 or p + size + SYNC_SIZE > n:
            raise CorruptBlock("bad block structure")
        if data[p + size : p + size + SYNC_SIZE] != sync:
            raise CorruptBlock("sync marker mismatch")
        payload = _decompress(data[p : p + size], codec)
        bpos = 0
        for _ in range(count):
            rec, bpos = resolved(payload, bpos)
            records.append(rec)
        if bpos != len(payload):
            raise CorruptBlock("trailing bytes in block")
        pos = p + size + SYNC_SIZE
    if logical:
        return [materialize_logical(reader_schema, r) for r in records]
    return records


def sampled_validate(
    data: bytes, decode_every: int = 100, limit: int = 1_000_000
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
    cost saving. Returns (healthy, n_records_checked, error)."""
    try:
        schema, codec, sync, pos = read_header(data)
    except CorruptHeader as exc:
        return False, 0, str(exc)
    n = len(data)
    block_no = checked = 0
    while pos < n and checked < limit:
        try:
            count, p = _read_long(data, pos)
            if not 0 <= count <= MAX_BLOCK_RECORDS:
                raise CorruptBlock(f"record count {count} out of bounds")
            size, p = _read_long(data, p)
            if not 0 <= size <= MAX_BLOCK_BYTES or p + size + SYNC_SIZE > n:
                raise CorruptBlock(f"block size {size} exceeds file")
            if data[p + size : p + size + SYNC_SIZE] != sync:
                raise CorruptBlock("sync marker mismatch")
            if block_no % decode_every == 0:  # the sampled payload decode
                _decode_block(_decompress(data[p : p + size], codec), schema, count)
                checked += count
        except (CorruptBlock, CorruptHeader, ValueError, OverflowError) as exc:
            return False, checked, f"block@{pos}: {exc}"
        pos = p + size + SYNC_SIZE
        block_no += 1
    return True, checked, ""
