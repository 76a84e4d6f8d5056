"""Corruption-injection property tests for the Avro OCF codec and the
E-group pipeline ops (SURVEY §5.2.2): validate flags exactly the
injured files; repair salvages every uninjured block; salvaged row
multisets equal the clean file minus the injured blocks."""

from __future__ import annotations

import functools
import io
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from s3_avro_repair_spark.avro_codec import (
    SYNC_SIZE,
    CorruptBlock,
    CorruptHeader,
    block_decoder,
    block_spans,
    materialize_logical,
    read_header,
    read_ocf,
    salvage_blocks,
    salvage_ocf,
    salvage_range,
    write_ocf,
    write_ocf_bytes,
    write_salvaged,
)
from s3_avro_repair_spark.sources.avro_pipeline import (
    inject_bad_header,
    inject_bad_sync,
    inject_flip,
    inject_truncate,
)


def read_ocf_logical(data: bytes) -> tuple[dict, list]:
    """Strict read with logicalType materialization: ``read_ocf``, then
    ``materialize_logical`` per record (decimal -> Decimal, date ->
    datetime.date, timestamp-* -> tz-aware datetime)."""
    schema, recs = read_ocf(data)
    return schema, [materialize_logical(schema, r) for r in recs]


def read_ocf_resolved(data: bytes, reader_schema, logical: bool = False) -> list:
    """Strict full read applying a reader schema (schema evolution).
    ``logical=True`` also materializes the READER schema's logicalType
    annotations on the resolved values."""
    writer, codec, sync, pos = read_header(data)
    decode = block_decoder(writer, reader_schema)
    records = [
        rec
        for _, _, recs, *_ in salvage_blocks(
            data, writer, codec, sync, pos, decode=decode, strict=True
        )
        for rec in recs
    ]
    if logical:
        return [materialize_logical(reader_schema, r) for r in records]
    return records


SCHEMA = {
    "type": "record",
    "name": "row",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "price", "type": "double"},
        {"name": "maybe", "type": ["null", "long"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
    ],
}


def mkrecs(n: int) -> list[dict]:
    return [
        {
            "k": i,
            "name": f"row-{i}-é中",
            "price": i * 1.25,
            "maybe": None if i % 3 == 0 else i * 7,
            "tags": [f"t{i % 5}", "x"] if i % 2 else [],
            "attrs": {"a": i, "b": -i} if i % 4 else {},
        }
        for i in range(n)
    ]


RECS = mkrecs(1000)
BLOCK = 100  # records per block -> 10 blocks


@pytest.fixture(
    scope="module", params=["null", "deflate", "snappy", "bzip2", "xz"]
)
def data(request):
    return write_ocf_bytes(SCHEMA, RECS, codec=request.param, block_records=BLOCK)


def keyset(recs):
    return Counter(r["k"] for r in recs)


def test_roundtrip_exact(data):
    schema, back = read_ocf(data)
    assert back == RECS
    assert schema == SCHEMA


def test_truncate_salvages_all_blocks_before_cut(data):
    res = salvage_ocf(inject_truncate(data))
    assert res.header_ok and not res.healthy and res.status == "repaired"
    # cut lands mid-block-5: blocks 0-4 fully salvaged, nothing invented
    assert res.n_blocks_ok == 5 and res.n_blocks_bad == 1
    assert keyset(res.records) == keyset(RECS[: 5 * BLOCK])


def test_flip_loses_exactly_one_block(data):
    res = salvage_ocf(inject_flip(data))
    assert res.header_ok and not res.healthy and res.status == "repaired"
    assert res.n_blocks_bad == 1
    # injured block is block 0; every other block survives intact
    assert keyset(res.records) == keyset(RECS[BLOCK:])


def test_bad_sync_recovers_all_records(data):
    res = salvage_ocf(inject_bad_sync(data))
    assert res.header_ok and not res.healthy and res.status == "repaired"
    # payload decoded byte-exactly -> records kept, marker resynced
    assert res.n_blocks_bad == 0 and res.n_blocks_resynced == 1
    assert keyset(res.records) == keyset(RECS)


# Every Avro type the generated decoders handle: scalars, a union, a
# nested record, and the array/map/enum/fixed fallbacks.
RICH_SCHEMA = {
    "type": "record",
    "name": "rich",
    "fields": [
        {"name": "flag", "type": "boolean"},
        {"name": "ratio", "type": "float"},
        {"name": "pick", "type": ["null", "int", "string"]},
        {
            "name": "inner",
            "type": {
                "type": "record",
                "name": "inner",
                "fields": [{"name": "id", "type": "long"}, {"name": "blob", "type": "bytes"}],
            },
        },
        {"name": "xs", "type": {"type": "array", "items": "double"}},
        {"name": "kv", "type": {"type": "map", "values": "string"}},
        {"name": "color", "type": {"type": "enum", "name": "color", "symbols": ["R", "G", "B"]}},
        {"name": "tag", "type": {"type": "fixed", "name": "tag", "size": 4}},
    ],
}
RICH_RECS = [
    {
        "flag": i % 2 == 0,
        "ratio": i / 4.0,
        "pick": [None, i, f"p{i}-é"][i % 3],
        "inner": {"id": -i, "blob": bytes([i % 256]) * (i % 5)},
        "xs": [i * 0.5] * (i % 3),
        "kv": {f"k{i % 4}": "v中"} if i % 2 else {},
        "color": "RGB"[i % 3],
        "tag": i.to_bytes(4, "little"),
    }
    for i in range(1000)
]


def _scramble(data: bytes) -> bytes:
    """Injure every block so that blocks fail different checks and some
    still decode: odd blocks get an invalid UTF-8 continuation byte in
    their first "é" (found in uncompressed payloads only), the others
    one XOR'd byte at a different offset each."""
    b = bytearray(data)
    for i, (_, payload_start, size, _) in enumerate(block_spans(data)):
        at = data.find("é".encode(), payload_start, payload_start + size)
        if i % 2 and at >= 0:
            b[at + 1] = 0x28
        else:
            b[payload_start + (37 * i + 5) % size] ^= 0x9C
    return bytes(b)


def _repaired(data: bytes) -> bytes:
    """The CLI's repair of ``data``: one count-only walk of the whole
    file, then the block-passthrough copy of what it kept."""
    res = salvage_range(io.BytesIO(data), len(data), 0, len(data))
    out = io.BytesIO()
    assert write_salvaged(io.BytesIO(data), out, res) == len(out.getvalue())
    return out.getvalue()


@pytest.mark.parametrize(
    "inject",
    [lambda d: d, inject_truncate, inject_flip, inject_bad_sync, inject_bad_header],
)
def test_counting_walk_matches_keeping_walk(data, inject):
    """One block walker behind every salvage mode: counting keeps no
    records but reports the same outcome — the count-only decoder fails
    on exactly the blocks, with exactly the messages, of the keeping
    one — and the streamed records are exactly the kept ones. Inputs:
    the suite's container, one over every Avro type, and that one with
    a byte flipped in every block."""
    codec = read_header(data)[1]
    rich = write_ocf_bytes(RICH_SCHEMA, RICH_RECS, codec=codec, block_records=BLOCK)
    for clean in (data, rich, _scramble(rich)):
        hurt = inject(clean)
        kept = salvage_ocf(hurt)
        counted = salvage_ocf(hurt, keep_records=False)
        assert counted.records == []
        assert counted.header_ok == kept.header_ok
        assert counted.n_records == kept.n_records == len(kept.records)
        assert (counted.n_blocks_ok, counted.n_blocks_resynced, counted.n_blocks_bad) == (
            kept.n_blocks_ok, kept.n_blocks_resynced, kept.n_blocks_bad
        )
        assert counted.errors == kept.errors
        if kept.header_ok:
            assert read_ocf(_repaired(hurt))[1] == kept.records


def _cuts(clean: bytes) -> list[int]:
    """Cut points: the header end, every block start, and ±1, ±16 and
    ±17 bytes from each — a range then starts inside a varint, on and
    next to a sync marker, and one byte past one."""
    starts = [start for start, _, _, _ in block_spans(clean)]
    return sorted({s + d for s in starts for d in (0, -1, 1, -16, 16, -17, 17)})


def _sum_ranges(hurt: bytes, bounds: list[int], chunk: int):
    total = [True, 0, 0, 0, 0]
    for start, end in zip(bounds, bounds[1:]):
        r = salvage_range(io.BytesIO(hurt), len(hurt), start, end, chunk=chunk)
        total[0] &= r.header_ok
        total[1:] = [
            a + b for a, b in zip(
                total[1:], (r.n_blocks_ok, r.n_blocks_resynced, r.n_blocks_bad, r.n_records)
            )
        ]
    return total


@pytest.mark.parametrize(
    "inject",
    [lambda d: d, inject_truncate, inject_flip, inject_bad_sync, inject_bad_header],
)
def test_range_walks_sum_to_whole_file(data, inject):
    """The byte-range law the CLI's split units rest on: cut a container
    anywhere, salvage each range on its own, and the counters sum to
    the whole-file salvage — no block counted twice or missed, even
    when a damaged sync marker starts or ends exactly on a cut
    (``inject_bad_sync`` zeroes the marker ending at block 1's start,
    and the cuts include that start and 16 bytes before it). Every
    range reports the header verdict. A 64-byte chunk makes the window
    grow and trim inside every block."""
    hurt = inject(data)
    whole = salvage_ocf(hurt, keep_records=False)
    want = [whole.header_ok, whole.n_blocks_ok, whole.n_blocks_resynced,
            whole.n_blocks_bad, whole.n_records]
    cuts = [c for c in _cuts(data) if 0 < c < len(hurt)]
    if inject is inject_bad_sync:
        marker_end = block_spans(data)[1][0]
        assert {marker_end, marker_end - SYNC_SIZE} <= set(cuts)
    for c in cuts:
        assert _sum_ranges(hurt, [0, c, len(hurt)], 1 << 20) == want, c
    assert _sum_ranges(hurt, [0, *cuts, len(hurt)], 64) == want


_INJURIES = [lambda d: d, inject_truncate, inject_flip, inject_bad_sync, inject_bad_header]
EMPTY_SCHEMA = {"type": "record", "name": "empty", "fields": []}


@pytest.mark.parametrize("inject", _INJURIES)
def test_passthrough_repair_contract(data, inject, monkeypatch):
    """A repair copies the blocks the count-only walk kept: the copy
    reads back strict with exactly the salvaged records, in order, under
    the input's own header (codec, metadata and sync marker, byte for
    byte), one block per kept block. A healthy file comes out
    unchanged; a header-less one cannot be repaired. Inputs: the
    suite's container and one over every Avro type with a byte flipped
    in every block (bad and kept blocks alternate), and one whose
    records have no fields."""
    from s3_avro_repair_spark import avro_codec

    codec = read_header(data)[1]
    rich = write_ocf_bytes(RICH_SCHEMA, RICH_RECS, codec=codec, block_records=BLOCK)
    empty = write_ocf_bytes(EMPTY_SCHEMA, [{}] * 1000, codec=codec, block_records=BLOCK)
    for clean in (data, _scramble(rich), empty):
        hurt = inject(clean)
        kept = salvage_ocf(hurt)
        if not kept.header_ok:
            with pytest.raises(ValueError):
                _repaired(hurt)
            continue
        fixed = _repaired(hurt)
        assert read_ocf(fixed)[1] == kept.records
        hdr_end = read_header(hurt)[3]
        assert fixed[:hdr_end] == hurt[:hdr_end]
        assert len(block_spans(fixed)) == kept.n_blocks_ok + kept.n_blocks_resynced
        if kept.healthy:
            assert fixed == hurt
        # the copy does not depend on how the runs are read
        with monkeypatch.context() as m:
            m.setattr(avro_codec, "_CHUNK", 64)
            assert _repaired(hurt) == fixed


def _tiled(schema, recs: list, n: int) -> bytes:
    """A container of ``n`` copies of the one block ``recs`` encode to."""
    one = write_ocf_bytes(schema, recs, block_records=len(recs))
    hdr_end = read_header(one)[3]
    return one[:hdr_end] + one[hdr_end:] * n


def test_passthrough_repair_memory_is_bounded(tmp_path, monkeypatch):
    """The walk and the copy each hold about one chunk plus one block:
    under tracemalloc, repairing a file hundreds of chunks long
    (``_CHUNK`` patched small) peaks far below the file's size, and the
    repaired copy still reads back with the salvaged records."""
    import tracemalloc

    from s3_avro_repair_spark import avro_codec

    hurt = inject_truncate(inject_bad_sync(_tiled(SCHEMA, RECS[:BLOCK], 1200)))
    src, dst = tmp_path / "in.avro", tmp_path / "out.avro"
    src.write_bytes(hurt)
    size = len(hurt)
    monkeypatch.setattr(avro_codec, "_CHUNK", 8 * 1024)
    assert size > 200 * avro_codec._CHUNK

    def repair():
        with open(src, "rb") as f, open(dst, "wb") as out:
            res = salvage_range(f, size, 0, size)
            write_salvaged(f, out, res)
        return res

    repair()  # compile the decoders outside the trace
    tracemalloc.start()
    try:
        res = repair()
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < size // 8, (peak, size)
    assert (res.n_blocks_ok, res.n_blocks_resynced, res.n_blocks_bad) == (599, 1, 1)
    assert read_ocf(dst.read_bytes())[1] == RECS[:BLOCK] * 600


def test_bad_header_is_unrepairable(data):
    res = salvage_ocf(inject_bad_header(data))
    assert not res.header_ok and res.status == "unrepairable"
    assert res.records == []
    with pytest.raises(CorruptHeader):
        read_ocf(inject_bad_header(data))


def test_strict_read_rejects_every_injury(data):
    for injure in (inject_truncate, inject_flip, inject_bad_sync):
        with pytest.raises((CorruptBlock, CorruptHeader)):
            read_ocf(injure(data))


def test_sampled_validate_catches_structural_injuries(data):
    """The systematic sample decodes ~1% of payloads but walks every
    block structurally — all four injury classes are still flagged,
    and a clean file passes while decoding only block 0."""
    from s3_avro_repair_spark.avro_codec import sampled_validate

    healthy, checked, err = sampled_validate(data)
    assert healthy and err == ""
    assert checked == BLOCK  # only block 0 of 10 payload-decoded
    for injure in (inject_truncate, inject_flip, inject_bad_sync, inject_bad_header):
        ok, _, err = sampled_validate(injure(data))
        assert not ok and err, injure.__name__


def test_sampled_validate_misses_unsampled_payload_damage(data):
    """Document the reference's accepted blind spot: payload-only
    damage in an UNSAMPLED block (here block 5) passes the sampled
    check but fails the strict one."""
    from s3_avro_repair_spark.avro_codec import sampled_validate

    spans = block_spans(data)
    _, payload_start, size, _ = spans[5]
    b = bytearray(data)
    b[payload_start + size - 16 : payload_start + size] = b"\xff" * 16
    ok, _, _ = sampled_validate(bytes(b))
    assert ok  # sampled: missed
    with pytest.raises(CorruptBlock):
        read_ocf(bytes(b))  # strict: caught


def test_block_spans_cover_file(data):
    spans = block_spans(data)
    assert len(spans) == 10
    # contiguous: each block starts where the previous ended
    for (_, _, _, end), (start, _, _, _) in zip(spans, spans[1:]):
        assert start == end
    assert spans[-1][3] == len(data)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.text(max_size=30),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.one_of(st.none(), st.integers(-(2**31), 2**31)),
        ),
        max_size=50,
    )
)
def test_property_roundtrip(rows):
    """Any record multiset round-trips bit-exactly through the codec."""
    schema = {
        "type": "record",
        "name": "p",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
            {"name": "u", "type": ["null", "long"]},
        ],
    }
    recs = [dict(zip("asdu", r)) for r in rows]
    for codec in ("null", "deflate", "snappy"):
        _, back = read_ocf(
            write_ocf_bytes(schema, recs, codec=codec, block_records=7)
        )
        assert back == recs


def test_writer_streams_blocks():
    """write_ocf consumes a generator lazily (no list materialization)."""
    bio = io.BytesIO()
    n = write_ocf(bio, SCHEMA, (r for r in RECS), block_records=64)
    assert n == len(RECS)
    _, back = read_ocf(bio.getvalue())
    assert back == RECS


def test_schema_resolution_skip_default_promote():
    """Reader-schema decode: field skipping, defaults, and the full
    promotion lattice (spec §Schema Resolution)."""
    from s3_avro_repair_spark.avro_codec import (
        SchemaResolutionError,
        write_ocf_bytes,
    )

    writer = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "int"},
            {"name": "skipme", "type": {"type": "array", "items": "string"}},
            {"name": "b", "type": "float"},
            {"name": "u", "type": ["null", "int"]},
        ],
    }
    reader = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "double"},       # int -> double promotion
            {"name": "b", "type": "double"},       # float -> double promotion
            {"name": "u", "type": ["null", "long"]},  # union branch promotion
            {"name": "extra", "type": "string", "default": "dflt"},
        ],
    }
    recs = [
        {"a": i, "skipme": [f"x{i}", "y"], "b": i * 0.5, "u": None if i % 2 else i}
        for i in range(50)
    ]
    data = write_ocf_bytes(writer, recs, block_records=7)
    out = read_ocf_resolved(data, reader)
    assert len(out) == 50
    for i, rec in enumerate(out):
        assert set(rec) == {"a", "b", "u", "extra"}
        assert rec["a"] == float(i) and isinstance(rec["a"], float)
        assert abs(rec["b"] - i * 0.5) < 1e-6
        assert rec["u"] == (None if i % 2 else i)
        assert rec["extra"] == "dflt"
    # string <-> bytes promotion both ways
    sw = {"type": "record", "name": "s", "fields": [{"name": "v", "type": "string"}]}
    sb = {"type": "record", "name": "s", "fields": [{"name": "v", "type": "bytes"}]}
    d = write_ocf_bytes(sw, [{"v": "héllo"}])
    assert read_ocf_resolved(d, sb)[0]["v"] == "héllo".encode()
    # incompatible: double writer -> int reader must refuse
    dw = {"type": "record", "name": "d", "fields": [{"name": "v", "type": "double"}]}
    di = {"type": "record", "name": "d", "fields": [{"name": "v", "type": "int"}]}
    d2 = write_ocf_bytes(dw, [{"v": 1.5}])
    with pytest.raises(SchemaResolutionError):
        read_ocf_resolved(d2, di)
    # missing field without default must refuse
    nr = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "double"}, {"name": "nodefault", "type": "string"},
    ]}
    with pytest.raises(SchemaResolutionError):
        read_ocf_resolved(data, nr)


def test_multi_branch_union_encodes_by_type():
    """Unions with several non-null branches pick the branch matching
    the Python value TYPE, not just null-vs-non-null (Avro library
    convention; a first-non-null rule would mis-encode these)."""
    schema = {
        "type": "record",
        "name": "m",
        "fields": [{"name": "v", "type": ["null", "string", "long", "boolean"]}],
    }
    vals = [None, "txt", 42, True, "", 0, False]
    _, back = read_ocf(
        write_ocf_bytes(schema, [{"v": v} for v in vals], block_records=3)
    )
    assert [r["v"] for r in back] == vals
    # a value no branch accepts must refuse at write time
    with pytest.raises(ValueError):
        write_ocf_bytes(schema, [{"v": 1.5}])


def test_snappy_crc_catches_payload_damage():
    """Snappy is the ONE codec whose blocks carry a checksum (CRC32 of
    the uncompressed data, per the Avro spec): payload damage that a
    null-codec structure walk could silently accept must raise, and
    salvage must lose exactly the damaged block."""
    data = write_ocf_bytes(SCHEMA, RECS, codec="snappy", block_records=BLOCK)
    spans = block_spans(data)
    _, payload_start, size, _ = spans[len(spans) // 2]
    b = bytearray(data)
    # flip one bit mid-payload, clear of the varint preamble and the
    # trailing CRC so the snappy frame itself may still decode
    b[payload_start + size // 2] ^= 0x01
    hurt = bytes(b)
    with pytest.raises((CorruptBlock, CorruptHeader)):
        read_ocf(hurt)
    res = salvage_ocf(hurt)
    assert res.n_blocks_bad == 1
    lost = range(
        BLOCK * (len(spans) // 2), BLOCK * (len(spans) // 2 + 1)
    )
    assert Counter(r["k"] for r in res.records) == Counter(
        r["k"] for r in RECS if r["k"] not in lost
    )


def test_resolution_map_values_and_enum_symbols():
    """Schema Resolution for the shapes that used to fall through to
    identity decoding: map value promotion and enum symbol matching
    by NAME (with reader default for removed symbols)."""
    from s3_avro_repair_spark.avro_codec import (
        SchemaResolutionError,
        write_ocf_bytes,
    )

    # map<int> -> map<double> value promotion
    mw = {"type": "record", "name": "m", "fields": [
        {"name": "kv", "type": {"type": "map", "values": "int"}}]}
    mr = {"type": "record", "name": "m", "fields": [
        {"name": "kv", "type": {"type": "map", "values": "double"}}]}
    d = write_ocf_bytes(mw, [{"kv": {"a": 1, "b": 2}}, {"kv": {}}])
    out = read_ocf_resolved(d, mr)
    assert out[0]["kv"] == {"a": 1.0, "b": 2.0}
    assert all(isinstance(v, float) for v in out[0]["kv"].values())
    assert out[1]["kv"] == {}

    # enum: writer symbol list reordered -> resolve by NAME
    ew = {"type": "record", "name": "e", "fields": [
        {"name": "c", "type": {"type": "enum", "name": "col",
                               "symbols": ["RED", "GREEN", "BLUE"]}}]}
    er_reordered = {"type": "record", "name": "e", "fields": [
        {"name": "c", "type": {"type": "enum", "name": "col",
                               "symbols": ["BLUE", "RED"], "default": "RED"}}]}
    d2 = write_ocf_bytes(ew, [{"c": "BLUE"}, {"c": "GREEN"}, {"c": "RED"}])
    out2 = [r["c"] for r in read_ocf_resolved(d2, er_reordered)]
    assert out2 == ["BLUE", "RED", "RED"]  # GREEN -> reader default

    # removed symbol with NO reader default must refuse
    er_strict = {"type": "record", "name": "e", "fields": [
        {"name": "c", "type": {"type": "enum", "name": "col",
                               "symbols": ["BLUE", "RED"]}}]}
    with pytest.raises(SchemaResolutionError):
        read_ocf_resolved(d2, er_strict)


def test_resolution_errors_are_lazy():
    """A mismatch raises only when a value that needs it is decoded: a
    zero-record file reads clean, and a writer union resolves per value
    (its string branch matches the reader, its null branch does not)."""
    from s3_avro_repair_spark.avro_codec import (
        SchemaResolutionError,
        write_ocf_bytes,
    )

    writer = {"type": "record", "name": "r", "fields": [{"name": "v", "type": ["null", "string"]}]}
    reader = {"type": "record", "name": "r", "fields": [{"name": "v", "type": "string"}]}
    nodefault = {"type": "record", "name": "r", "fields": [{"name": "w", "type": "long"}]}
    empty = write_ocf_bytes(writer, [])
    assert read_ocf_resolved(empty, reader) == read_ocf_resolved(empty, nodefault) == []
    assert read_ocf_resolved(write_ocf_bytes(writer, [{"v": "a"}]), reader) == [{"v": "a"}]
    with pytest.raises(SchemaResolutionError, match="cannot read writer null as reader string"):
        read_ocf_resolved(write_ocf_bytes(writer, [{"v": "a"}, {"v": None}]), reader)
    with pytest.raises(SchemaResolutionError, match="w missing and has no default"):
        read_ocf_resolved(write_ocf_bytes(writer, [{"v": "a"}]), nodefault)


def test_block_stats_matches_full_decode(data):
    from s3_avro_repair_spark.avro_codec import block_stats

    nb, nr, payload = block_stats(data)
    _, recs = read_ocf(data)
    assert nr == len(recs) == len(RECS)
    assert nb == len(block_spans(data)) == len(RECS) // BLOCK
    assert payload == sum(s[2] for s in block_spans(data))


def test_block_stats_rejects_structural_damage(data):
    from s3_avro_repair_spark.avro_codec import block_stats

    with pytest.raises(CorruptBlock):
        block_stats(inject_truncate(data))
    with pytest.raises(CorruptHeader):
        block_stats(inject_bad_header(data))


def test_block_stats_applies_the_walks_count_bound(data):
    """A block whose count varint reads 2**40 (past MAX_BLOCK_RECORDS)
    is damage to every block-header walk: block_stats refuses it, as the
    salvage walk and the sampled check do, instead of adding 2**40
    records to the file's count."""
    from s3_avro_repair_spark.avro_codec import (
        _encode_long,
        _read_long,
        block_stats,
        sampled_validate,
    )

    start = block_spans(data)[0][0]
    _, after_count = _read_long(data, start)
    huge = bytearray()
    _encode_long(1 << 40, huge)
    hurt = data[:start] + bytes(huge) + data[after_count:]
    with pytest.raises(CorruptBlock, match="out of bounds"):
        block_stats(hurt)
    assert "out of bounds" in salvage_ocf(hurt).errors[0]
    ok, _, err = sampled_validate(hurt)
    assert not ok and "out of bounds" in err


# ---------------------------------------------------------------------------
# property test: random walks through the schema-evolution lattice
# ---------------------------------------------------------------------------

# writer type -> legal reader promotions (spec §Schema Resolution),
# with a value transform mirroring what a resolved read must apply.
_LATTICE = {
    "int": ["int", "long", "float", "double"],
    "long": ["long", "float", "double"],
    "float": ["float", "double"],
    "double": ["double"],
    "string": ["string", "bytes"],
    "bytes": ["bytes", "string"],
    "boolean": ["boolean"],
}


def _expected(val, wt, rt):
    if rt in ("float", "double") and wt in ("int", "long"):
        return float(val)
    if rt == "bytes" and wt == "string":
        return val.encode("utf-8")
    if rt == "string" and wt == "bytes":
        return val.decode("utf-8")
    return val


def _value_strategy(t):
    # floats restricted to small integers: exactly representable at
    # 32-bit, so promotion comparisons are == without tolerance.
    return {
        "int": st.integers(-(2**31), 2**31 - 1),
        "long": st.integers(-(2**62), 2**62 - 1),
        "float": st.integers(-1000, 1000).map(float),
        "double": st.integers(-(2**50), 2**50).map(float),
        "string": st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=12,
        ),
        "bytes": st.binary(max_size=12),
        "boolean": st.booleans(),
    }[t]


_SYMBOLS = ["A", "B", "C", "D"]


def _shaped(shape, t):
    """``t`` as one field's shape: itself, array<t>, map<t> or ["null", t]."""
    if shape == "array":
        return {"type": "array", "items": t}
    if shape == "map":
        return {"type": "map", "values": t}
    return ["null", t] if shape == "nullable" else t


def _shaped_values(shape, t):
    v = _value_strategy(t)
    if shape == "array":
        return st.lists(v, max_size=3)
    if shape == "map":
        return st.dictionaries(st.sampled_from(["a", "b", "é"]), v, max_size=3)
    return st.none() | v if shape == "nullable" else v


def _expected_shaped(val, shape, wt, rt):
    """``val``, written as ``shape`` around ``wt``, read as the same
    shape around ``rt``; UnicodeDecodeError for a bytes value that is
    not UTF-8 read as string."""
    if shape == "array":
        return [_expected(v, wt, rt) for v in val]
    if shape == "map":
        return {k: _expected(v, wt, rt) for k, v in val.items()}
    return None if val is None else _expected(val, wt, rt)


def _expected_symbol(val, symbols, default):
    return val if val in symbols else default


@st.composite
def _evolution_case(draw):
    """A (writer schema, reader schema, rows, expected rows) quadruple:
    per field the reader either promotes the type, keeps it, or drops
    the field; the reader also gains a defaulted field and shuffles
    field order (matching is by name, not position). A field is a
    lattice type, or array<T>, map<T> or ["null", T] around one (the
    reader promotes T inside the same shape), or an enum the reader
    reads through a reordered subset of its symbols plus a default. A
    row expects None when the read must raise: a bytes value that is
    not UTF-8, read as string."""
    n = draw(st.integers(min_value=1, max_value=5))
    wfields, rfields, values, kept = [], [], [], []
    for i in range(n):
        shape = draw(st.sampled_from(["plain", "array", "map", "nullable", "enum"]))
        fate = draw(st.sampled_from(["keep", "promote", "drop"]))
        if shape == "enum":
            wt = rt = {"type": "enum", "name": f"E{i}", "symbols": _SYMBOLS}
            values.append(st.sampled_from(_SYMBOLS))
            expect = functools.partial(_expected_symbol, symbols=_SYMBOLS, default=None)
            if fate == "promote":
                symbols = draw(st.permutations(_SYMBOLS))[: draw(st.integers(1, 4))]
                default = draw(st.sampled_from(symbols))
                rt = dict(wt, symbols=symbols, default=default)
                expect = functools.partial(_expected_symbol, symbols=symbols, default=default)
        else:
            t = draw(st.sampled_from(sorted(_LATTICE)))
            r = t if fate == "keep" else draw(st.sampled_from(_LATTICE[t]))
            wt, rt = _shaped(shape, t), _shaped(shape, r)
            values.append(_shaped_values(shape, t))
            expect = functools.partial(_expected_shaped, shape=shape, wt=t, rt=r)
        wfields.append({"name": f"f{i}", "type": wt})
        if fate != "drop":
            rfields.append({"name": f"f{i}", "type": rt})
            kept.append((f"f{i}", expect))
    added = draw(st.booleans())
    if added:
        rfields.append({"name": "added", "type": "long", "default": 7})
    perm = draw(st.permutations(rfields))
    writer = {"type": "record", "name": "R", "fields": wfields}
    reader = {"type": "record", "name": "R", "fields": list(perm)}
    nrows = draw(st.integers(min_value=1, max_value=5))
    rows, want = [], []
    for _ in range(nrows):
        row = {f"f{i}": draw(v) for i, v in enumerate(values)}
        rows.append(row)
        try:
            exp = {name: expect(row[name]) for name, expect in kept}
        except UnicodeDecodeError:
            want.append(None)
            continue
        if added:
            exp["added"] = 7
        want.append(exp)
    return writer, reader, rows, want


@settings(max_examples=100, deadline=None)
@given(case=_evolution_case())
def test_property_schema_resolution_lattice(case):
    from s3_avro_repair_spark.avro_codec import write_ocf_bytes

    writer, reader, rows, want = case
    data = write_ocf_bytes(writer, rows)
    if None in want:
        with pytest.raises(UnicodeDecodeError):
            read_ocf_resolved(data, reader)
        return
    assert read_ocf_resolved(data, reader) == want


def test_decimal_bytes_negative_roundtrip():
    """The typed/ fixture only carries positive prices; pin the Avro
    spec's two's-complement decimal encoding for negatives and zero,
    including values whose magnitude needs a sign-extension byte."""
    from decimal import Decimal

    from s3_avro_repair_spark.sources.avro_pipeline import _decimal_bytes

    for price, unscaled in [
        (0.0, 0),
        (1.27, 127),
        (1.28, 128),       # needs a leading 0x00 (sign room)
        (-1.28, -128),     # fits in one byte
        (-1.29, -129),
        (-327.68, -32768),
        (655.36, 65536),
    ]:
        b = _decimal_bytes(price)
        back = int.from_bytes(b, "big", signed=True)
        assert back == unscaled, (price, b.hex(), back)
        assert str(Decimal(back).scaleb(-2)) == f"{price:.2f}"
        # The spec requires valid two's complement, not minimal length;
        # sign-extension must therefore be value-preserving.
        assert int.from_bytes(
            (b"\xff" if unscaled < 0 else b"\x00") + b, "big", signed=True
        ) == unscaled


# ---------------------------------------------------------------------------
# logical types: value-level write path + materializing read
# ---------------------------------------------------------------------------

LOGICAL_SCHEMA = {
    "type": "record",
    "name": "typed_row",
    "fields": [
        {"name": "k", "type": "long"},
        {
            "name": "amount",
            "type": {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": 18,
                "scale": 2,
            },
        },
        {
            "name": "amount_fixed",
            "type": {
                "type": "fixed",
                "name": "dec8",
                "size": 8,
                "logicalType": "decimal",
                "precision": 18,
                "scale": 4,
            },
        },
        {"name": "day", "type": {"type": "int", "logicalType": "date"}},
        {
            "name": "at_us",
            "type": {"type": "long", "logicalType": "timestamp-micros"},
        },
        {
            "name": "maybe_amount",
            "type": [
                "null",
                {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 18,
                    "scale": 2,
                },
            ],
        },
    ],
}


def _logical_rows():
    import datetime as dt
    from decimal import Decimal

    utc = dt.timezone.utc
    return [
        {
            "k": 1,
            "amount": Decimal("10.50"),
            "amount_fixed": Decimal("-3.1415"),
            "day": dt.date(2024, 2, 29),
            "at_us": dt.datetime(2024, 2, 29, 12, 34, 56, 789123, tzinfo=utc),
            "maybe_amount": Decimal("-0.01"),
        },
        {
            "k": 2,
            "amount": Decimal("-12345678901234.99"),
            "amount_fixed": Decimal("0.0001"),
            "day": dt.date(1969, 12, 31),
            "at_us": dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=utc),
            "maybe_amount": None,
        },
        {
            "k": 3,
            "amount": Decimal("0.00"),
            "amount_fixed": Decimal("0.0000"),
            "day": dt.date(1970, 1, 1),
            "at_us": dt.datetime(1970, 1, 1, tzinfo=utc),
            "maybe_amount": Decimal("128.00"),  # unscaled 12800 needs 2 bytes
        },
    ]


def test_logical_write_read_roundtrip():
    """Decimal/date/timestamp-micros Python values encode per the spec
    and materialize back EQUAL — value fidelity, scale preserved (10.50
    stays '10.50', not '10.5'), pre-epoch values exact."""

    rows = _logical_rows()
    data = write_ocf_bytes(LOGICAL_SCHEMA, rows, codec="deflate")
    schema, back = read_ocf_logical(data)
    assert schema == LOGICAL_SCHEMA  # annotation survives the header
    assert back == rows
    assert str(back[0]["amount"]) == "10.50"
    assert str(back[1]["amount_fixed"]) == "0.0001"


def test_logical_rewrite_is_byte_identical():
    """The avro_rewrite contract at codec level: raw read -> re-encode
    preserves bytes exactly, AND materialized read -> re-encode of the
    logical values produces the identical file — the logicalType
    annotation and every value rendition survive a rewrite pass."""

    rows = _logical_rows()
    data = write_ocf_bytes(LOGICAL_SCHEMA, rows, codec="null")
    # raw pass-through rewrite
    schema, raw = read_ocf(data)
    assert write_ocf_bytes(schema, raw, codec="null") == data
    # materialized rewrite (Decimal/date/datetime values re-encoded)
    schema, typed = read_ocf_logical(data)
    assert write_ocf_bytes(schema, typed, codec="null") == data


def test_logical_encode_rejects_lossy_values():
    from decimal import Decimal

    out = bytearray()
    with pytest.raises(ValueError, match="scale"):
        write_ocf_bytes(
            LOGICAL_SCHEMA,
            [dict(_logical_rows()[0], amount=Decimal("1.005"))],
        )
    big = Decimal("12345678901234567.1234")  # overflows fixed(8) at scale 4
    with pytest.raises(ValueError, match="overflows fixed"):
        write_ocf_bytes(
            LOGICAL_SCHEMA,
            [dict(_logical_rows()[0], amount_fixed=big)],
        )
    import datetime as dt

    ts_ms_schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "t",
                "type": {"type": "long", "logicalType": "timestamp-millis"},
            }
        ],
    }
    with pytest.raises(ValueError, match="sub-millisecond"):
        write_ocf_bytes(
            ts_ms_schema,
            [{"t": dt.datetime(2024, 1, 1, 0, 0, 0, 1, tzinfo=dt.timezone.utc)}],
        )
    del out


def test_logical_corruption_still_detected():
    """Corruption injection over a logical-typed file: the strict
    logical read rejects a truncated decimal payload exactly like the
    raw read does (materialization never masks an injury)."""

    rows = [
        dict(r, k=100 + i)
        for i, r in enumerate(_logical_rows() * 40)
    ]
    data = write_ocf_bytes(LOGICAL_SCHEMA, rows, codec="null", block_records=10)
    hurt = inject_flip(data)
    with pytest.raises(CorruptBlock):
        read_ocf_logical(hurt)
    res = salvage_ocf(hurt)
    assert res.n_blocks_bad == 1
    assert len(res.records) == len(rows) - 10


def test_logical_composes_with_schema_resolution():
    """A reader schema that skips a writer column and adds a defaulted
    field still materializes the surviving logical columns: evolution
    first (spec §Schema Resolution), then logicalType, in one read."""

    rows = _logical_rows()
    data = write_ocf_bytes(LOGICAL_SCHEMA, rows, codec="deflate")
    reader = {
        "type": "record",
        "name": "typed_row",
        "fields": [
            {"name": "k", "type": "long"},
            {
                "name": "amount",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 18,
                    "scale": 2,
                },
            },
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {"name": "grade", "type": "string", "default": "unrated"},
        ],
    }
    back = read_ocf_resolved(data, reader, logical=True)
    assert [r["amount"] for r in back] == [r["amount"] for r in rows]
    assert [r["day"] for r in back] == [r["day"] for r in rows]
    assert all(r["grade"] == "unrated" for r in back)
    assert all("at_us" not in r for r in back)


@settings(max_examples=30, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.decimals(
                min_value=-10**14, max_value=10**14, places=2,
                allow_nan=False, allow_infinity=False,
            ),
            st.dates(
                min_value=__import__("datetime").date(1900, 1, 1),
                max_value=__import__("datetime").date(2200, 12, 31),
            ),
            st.datetimes(
                min_value=__import__("datetime").datetime(1900, 1, 1),
                max_value=__import__("datetime").datetime(2200, 1, 1),
            ),
        ),
        max_size=30,
    )
)
def test_property_logical_roundtrip(rows):
    """Any Decimal(scale 2)/date/timestamp-micros multiset round-trips
    EQUAL through the logical write + materializing read, under every
    codec, and the re-encode of the materialized values is
    byte-identical to the original file."""
    import datetime as dt

    schema = {
        "type": "record",
        "name": "pl",
        "fields": [
            {
                "name": "amt",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 18,
                    "scale": 2,
                },
            },
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "at",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
    recs = [
        {
            "amt": amt,
            "day": day,
            "at": at.replace(tzinfo=dt.timezone.utc),
        }
        for amt, day, at in rows
    ]
    for codec in ("null", "deflate", "snappy"):
        data = write_ocf_bytes(schema, recs, codec=codec, block_records=7)
        _, back = read_ocf_logical(data)
        assert back == recs
        assert (
            write_ocf_bytes(schema, back, codec=codec, block_records=7) == data
        )


def test_zstandard_gated_behind_import_try(monkeypatch):
    """zstandard (Avro 1.9+) is implemented but this container ships no
    zstd binding — the codec must fail as a PER-FILE CorruptHeader (a
    report row in a fleet sweep), never an uncaught ImportError that
    would abort a whole 100 TB pass."""
    import builtins
    import sys

    monkeypatch.setitem(sys.modules, "zstandard", None)
    real_import = builtins.__import__

    def no_zstd(name, *a, **k):
        if name in ("zstandard", "compression") or name.startswith(
            "compression."
        ):
            raise ImportError(name)
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", no_zstd)
    with pytest.raises(CorruptHeader, match="zstd binding"):
        write_ocf_bytes(SCHEMA, RECS[:10], codec="zstandard")


def test_zstandard_roundtrip_with_stub_binding(monkeypatch):
    """With a zstd binding present (stubbed here — deterministic fake
    over zlib, since the real library isn't in this container), the
    zstandard branch round-trips and payload damage is caught by the
    decompressor. The Spark-side plumbing (codec dispatch, block
    framing, salvage classification) is the real code path."""
    import sys
    import types
    import zlib as _z

    stub = types.ModuleType("zstandard")

    class _C:
        def compress(self, b):
            return b"ZSTUB" + _z.compress(b)

    class _D:
        def decompress(self, b):
            if b[:5] != b"ZSTUB":
                raise ValueError("bad frame magic")
            return _z.decompress(b[5:])

    stub.ZstdCompressor = _C
    stub.ZstdDecompressor = _D
    monkeypatch.setitem(sys.modules, "zstandard", stub)

    blob = write_ocf_bytes(SCHEMA, RECS, codec="zstandard", block_records=BLOCK)
    schema, back = read_ocf(blob)
    assert back == RECS and schema == SCHEMA
    res = salvage_ocf(inject_flip(blob))
    assert res.header_ok and res.status == "repaired" and res.n_blocks_bad == 1
    assert keyset(res.records) == keyset(RECS[BLOCK:])


def test_zstandard_streaming_frame_fallback(monkeypatch):
    """Valid frames WITHOUT a content-size header (streaming writers,
    e.g. Java Avro's OutputStream path) make one-shot decompress()
    fail; the codec must fall back to the streaming decompressor
    instead of misclassifying the healthy block as corrupt (ADVICE
    r7). The stub mirrors the real ``zstandard`` interface: one-shot
    raises on size-less frames, decompressobj() carries zlib-style
    eof / unused_data."""
    import sys
    import types
    import zlib as _z

    stub = types.ModuleType("zstandard")

    class _C:
        def compress(self, b):
            # "streaming writer": no content-size header in the frame
            return b"ZNOSZ" + _z.compress(b)

    class _DObj:
        def __init__(self):
            self.eof = False
            self.unused_data = b""

        def decompress(self, b):
            if b[:5] != b"ZNOSZ":
                raise ValueError("bad frame magic")
            out = _z.decompress(b[5:])
            self.eof = True
            return out

    class _D:
        def decompress(self, b):
            raise ValueError(
                "could not determine content size in frame header"
            )

        def decompressobj(self):
            return _DObj()

    stub.ZstdCompressor = _C
    stub.ZstdDecompressor = _D
    monkeypatch.setitem(sys.modules, "zstandard", stub)

    blob = write_ocf_bytes(SCHEMA, RECS, codec="zstandard", block_records=BLOCK)
    schema, back = read_ocf(blob)
    assert back == RECS and schema == SCHEMA
    # Damage still classifies as CorruptBlock through the fallback.
    res = salvage_ocf(inject_flip(blob))
    assert res.header_ok and res.status == "repaired" and res.n_blocks_bad == 1


# --- the count-only decoder's block matcher ---------------------------------
#
# ``compile_decoder(schema, build=False)`` fronts the generated count loop
# (``_codegen(schema, "count")``) with a per-schema regex over whole
# blocks; the loop runs only on a block the matcher rejects. These tests
# pin that the two agree on every block, damaged or not, that the fast
# path stays on for the production schemas, and that a block failing at
# its end cannot make the regex backtrack badly.


def _leaf_types():
    fixed = st.integers(0, 12).map(lambda n: {"type": "fixed", "name": f"f{n}", "size": n})
    enum = st.sampled_from([1, 2, 3, 63, 64]).map(
        lambda n: {"type": "enum", "name": f"e{n}", "symbols": [f"S{i}" for i in range(n)]}
    )
    return st.one_of(
        st.sampled_from(
            ["null", "boolean", "int", "long", "float", "double", "string", "bytes",
             {"type": "long", "logicalType": "timestamp-micros"}]
        ),
        fixed,
        enum,
    )


# Union branches of distinct value classes, so the writer's branch choice
# by value type is unambiguous.
_BRANCHES = ["null", "boolean", "long", "double", "string", "bytes"]


@st.composite
def _matcher_schema(draw, depth: int = 0):
    def field_type():
        kinds = ["leaf", "union"] + (["record"] if depth < 2 else [])
        kind = draw(st.sampled_from(kinds))
        if kind == "leaf":
            return draw(_leaf_types())
        if kind == "record":
            return draw(_matcher_schema(depth + 1))
        return draw(st.lists(st.sampled_from(_BRANCHES), min_size=1, max_size=4, unique=True))

    n = draw(st.integers(0 if depth else 1, 6))
    fields = [{"name": f"c{i}", "type": field_type()} for i in range(n)]
    if depth == 0 and draw(st.integers(0, 5)) == 0:  # uncovered: the bare loop
        fields.append({"name": "arr", "type": {"type": "array", "items": "long"}})
    return {"type": "record", "name": f"r{depth}_{n}", "fields": fields}


def _matcher_value(draw, s):
    t = s if isinstance(s, str) else ("union" if isinstance(s, list) else s["type"])
    if t == "null":
        return None
    if t == "boolean":
        return draw(st.booleans())
    if t == "int":
        return draw(st.integers(-(2**31), 2**31 - 1))
    if t == "long":
        return draw(st.integers(-(2**63), 2**63 - 1))
    if t == "float":
        return draw(st.floats(width=32, allow_nan=False))
    if t == "double":
        return draw(st.floats(allow_nan=False))
    if t == "string":  # past 63 bytes and non-ASCII: blocks the loop must read
        return draw(st.text(max_size=draw(st.sampled_from([3, 70]))))
    if t == "bytes":
        return draw(st.binary(max_size=draw(st.sampled_from([3, 70]))))
    if t == "fixed":
        return draw(st.binary(min_size=s["size"], max_size=s["size"]))
    if t == "enum":
        return draw(st.sampled_from(s["symbols"]))
    if t == "array":
        return draw(st.lists(st.integers(-5, 5), max_size=3))
    if t == "union":
        return _matcher_value(draw, draw(st.sampled_from(s)))
    return {f["name"]: _matcher_value(draw, f["type"]) for f in s["fields"]}


def _mutants(draw, payload: bytes, count: int, sweep: bool):
    """The block, then damaged copies: with ``sweep``, every byte one
    and two up and down (a boolean 2, an odd length or index, a length
    one off, an index one past the end) and every byte below 0x80
    padded into a 10- and an 11-byte varint; random byte flips,
    truncations, insertions, an odd (negative) length or index byte,
    and a one-byte varint padded to 10 and to 11 bytes; and a wrong
    count."""
    yield payload, count
    yield payload, count + 1
    if count:
        yield payload, count - 1
    n = len(payload)
    for i in range(n if sweep else 0):
        for d in (-2, -1, 1, 2):
            yield payload[:i] + bytes([(payload[i] + d) & 0xFF]) + payload[i + 1:], count
        if payload[i] < 0x80:  # a varint's last byte: pad it to 10 and 11 bytes
            for pad in (9, 10):
                yield payload[:i] + b"\x80" * pad + payload[i:], count
    for _ in range(draw(st.integers(1, 6))):
        i = draw(st.integers(0, max(n - 1, 0)))
        b = bytearray(payload)
        kind = draw(st.sampled_from(["flip", "truncate", "insert", "odd", "pad"]))
        if kind == "truncate":
            yield payload[:i], count
            continue
        if kind == "insert":
            yield payload[:i] + draw(st.binary(min_size=1, max_size=3)) + payload[i:], count
            continue
        if not n:
            continue
        if kind == "flip":
            b[i] ^= draw(st.integers(1, 255))
        elif kind == "odd":
            b[i] = 2 * draw(st.integers(0, 63)) + 1
        elif b[i] < 0x80:  # pad: 0x80 bytes in front of a varint's last byte
            b[i:i + 1] = b"\x80" * draw(st.sampled_from([9, 10])) + bytes([b[i]])
        yield bytes(b), count


def _outcome(dec, payload: bytes, count: int):
    try:
        return dec(payload, count)
    except Exception as exc:  # noqa: BLE001 — the type and message are compared
        return type(exc), str(exc)


@settings(max_examples=100, deadline=None)
@given(st.data())
def test_block_matcher_agrees_with_count_loop(data):
    """Differential: over random schemas of the matcher's types (and
    some with an array field, which the matcher does not cover), random
    records in blocks of random sizes, and damaged copies of every
    block, the matcher-fronted count decoder and the bare generated
    count loop give the same outcome on every block: both ``()``, or the
    same exception type with the same message. Every byte of the first
    block is also moved one and two up and down: records share one
    schema, so that reaches every field's edge. The building decoder,
    which reads every varint byte by byte (the count loop and the
    matcher share one varint regex), fails on the same blocks with the
    same messages."""
    from s3_avro_repair_spark.avro_codec import (
        _codegen,
        _read_long,
        block_decoder,
        compile_decoder,
    )

    schema = data.draw(_matcher_schema())
    recs = [_matcher_value(data.draw, schema) for _ in range(data.draw(st.integers(0, 40)))]
    raw = write_ocf_bytes(schema, recs, block_records=data.draw(st.integers(1, 12)))
    fronted, loop = compile_decoder(schema, build=False), _codegen(schema, "count")
    build = block_decoder(schema)
    for b, (start, p, size, _) in enumerate(block_spans(raw)):
        count = _read_long(raw, start)[0]  # from the block's header
        for payload, n in _mutants(data.draw, raw[p:p + size], count, sweep=b == 0):
            got = _outcome(fronted, payload, n)
            assert got == _outcome(loop, payload, n)
            built = _outcome(build, payload, n)
            assert got == (() if isinstance(built, list) else built)


def _orders(n: int, seed: int = 7) -> list[dict]:
    import random

    rng = random.Random(seed)
    return [
        {
            "o_orderkey": rng.randrange(1 << 40),
            "o_custkey": rng.randrange(1 << 20),
            "o_orderstatus": rng.choice("FOP"),
            "o_totalprice": round(rng.uniform(1000, 500000), 2),
            "o_orderdate": rng.randrange(-(1 << 50), 1 << 50),
        }
        for _ in range(n)
    ]


@pytest.mark.parametrize("generation", ["ORDERS_SCHEMA", "OLD_ORDERS_SCHEMA"])
def test_block_matcher_accepts_orders_blocks(generation):
    """The production writer schemas stay on the fast path: every block
    of a clean orders container, of 1 to 3000 records (past one
    2**10-record repeat), is accepted by the matcher, with no block
    handed to the count loop."""
    from s3_avro_repair_spark.avro_codec import compile_decoder
    from s3_avro_repair_spark.sources import avro_pipeline

    schema = getattr(avro_pipeline, generation)
    names = [f["name"] for f in schema["fields"]]
    recs = [{k: r[k] for k in names} for r in _orders(9000)]
    dec = compile_decoder(schema, build=False)
    before = dec.fallbacks
    for block_records in (1, 7, 100, 1024, 3000):
        data = write_ocf_bytes(schema, recs[: 3 * block_records], block_records=block_records)
        res = salvage_ocf(data, keep_records=False)
        assert (res.n_records, res.n_blocks_bad) == (3 * block_records, 0)
    assert dec.fallbacks == before


def _with(field) -> dict:
    return {"type": "record", "name": "u",
            "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": field}]}


@pytest.mark.parametrize(
    "schema",
    [
        _with({"type": "array", "items": "long"}),
        _with({"type": "map", "values": "long"}),
        _with({"type": "enum", "name": "e65", "symbols": [f"S{i}" for i in range(65)]}),
        _with(["null"] * 65),
        {"type": "record", "name": "w",
         "fields": [{"name": f"s{i}", "type": "string"} for i in range(50)]},
    ],
    ids=["array", "map", "enum65", "union65", "50_strings"],
)
def test_block_matcher_uncovered_schemas_keep_the_loop(schema):
    """A schema the matcher does not cover, or whose one-record regex
    is too long to compile cheaply, gets the generated count loop
    itself."""
    from s3_avro_repair_spark.avro_codec import _codegen, compile_decoder

    assert compile_decoder(schema, build=False) is _codegen(schema, "count")


def test_block_matcher_failing_block_is_linear():
    """A 200k-record block that fails on its last byte costs the matcher
    a failed match plus the count loop's own run: within 3x of the bare
    loop, so the pattern cannot backtrack badly (every alternative
    starts with its own literal byte, the varint classes are disjoint,
    and a repeat spans at most 2**10 records)."""
    import time

    from s3_avro_repair_spark.avro_codec import _codegen, compile_decoder
    from s3_avro_repair_spark.sources.avro_pipeline import ORDERS_SCHEMA

    data = write_ocf_bytes(ORDERS_SCHEMA, _orders(1000), block_records=1000)
    (_, p, size, _), = block_spans(data)
    payload = data[p:p + size] * 200
    bad = payload[:-1] + b"\xff"  # the last varint runs past the end
    fronted, loop = compile_decoder(ORDERS_SCHEMA, build=False), _codegen(ORDERS_SCHEMA, "count")
    assert fronted(payload, 200_000) == ()

    def best(dec) -> float:
        times = []
        for _ in range(3):
            t = time.perf_counter()
            with pytest.raises(CorruptBlock, match="varint runs past end of buffer"):
                dec(bad, 200_000)
            times.append(time.perf_counter() - t)
        return min(times)

    assert best(fronted) < 3 * best(loop)
