"""Corruption-injection property tests for the Avro OCF codec and the
E-group pipeline ops (SURVEY §5.2.2): validate flags exactly the
injured files; repair salvages every uninjured block; salvaged row
multisets equal the clean file minus the injured blocks."""

from __future__ import annotations

import io
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from s3_avro_repair_spark.avro_codec import (
    CorruptBlock,
    CorruptHeader,
    block_spans,
    read_ocf,
    salvage_ocf,
    salvaged_records,
    write_ocf,
    write_ocf_bytes,
)
from s3_avro_repair_spark.sources.avro_pipeline import (
    inject_bad_header,
    inject_bad_sync,
    inject_flip,
    inject_truncate,
)

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
    assert res.header_ok and not res.healthy and res.repairable
    # cut lands mid-block-5: blocks 0-4 fully salvaged, nothing invented
    assert res.n_blocks_ok == 5 and res.n_blocks_bad == 1
    assert keyset(res.records) == keyset(RECS[: 5 * BLOCK])


def test_flip_loses_exactly_one_block(data):
    res = salvage_ocf(inject_flip(data))
    assert res.header_ok and not res.healthy and res.repairable
    assert res.n_blocks_bad == 1
    # injured block is block 0; every other block survives intact
    assert keyset(res.records) == keyset(RECS[BLOCK:])


def test_bad_sync_recovers_all_records(data):
    res = salvage_ocf(inject_bad_sync(data))
    assert res.header_ok and not res.healthy and res.repairable
    # payload decoded byte-exactly -> records kept, marker resynced
    assert res.n_blocks_bad == 0 and res.n_blocks_resynced == 1
    assert keyset(res.records) == keyset(RECS)


@pytest.mark.parametrize(
    "inject", [lambda d: d, inject_truncate, inject_flip, inject_bad_sync]
)
def test_counting_walk_matches_keeping_walk(data, inject):
    """One block walker behind every salvage mode: counting keeps no
    records but reports the same outcome, and the streamed records are
    exactly the kept ones."""
    hurt = inject(data)
    kept = salvage_ocf(hurt)
    counted = salvage_ocf(hurt, keep_records=False)
    assert counted.records == []
    assert counted.n_records == kept.n_records == len(kept.records)
    assert (counted.n_blocks_ok, counted.n_blocks_resynced, counted.n_blocks_bad) == (
        kept.n_blocks_ok, kept.n_blocks_resynced, kept.n_blocks_bad
    )
    assert counted.errors == kept.errors
    assert list(salvaged_records(hurt)) == kept.records


def test_bad_header_is_unrepairable(data):
    res = salvage_ocf(inject_bad_header(data))
    assert not res.header_ok and not res.repairable
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
        decode_resolved,
        read_ocf_resolved,
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
        read_ocf_resolved,
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


# ---------------------------------------------------------------------------
# property test: random walks through the schema-evolution lattice
# ---------------------------------------------------------------------------

# writer type -> legal reader promotions (spec §Schema Resolution),
# with a value transform mirroring what decode_resolved must apply.
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


@st.composite
def _evolution_case(draw):
    """A (writer schema, reader schema, rows, expected rows) quadruple:
    per field the reader either promotes the type, keeps it, or drops
    the field; the reader also gains a defaulted field and shuffles
    field order (matching is by name, not position)."""
    n = draw(st.integers(min_value=1, max_value=5))
    wtypes = [draw(st.sampled_from(sorted(_LATTICE))) for _ in range(n)]
    wfields = [{"name": f"f{i}", "type": t} for i, t in enumerate(wtypes)]
    rfields, kept = [], []
    for i, t in enumerate(wtypes):
        fate = draw(st.sampled_from(["keep", "promote", "drop"]))
        if fate == "drop":
            continue
        rt = wtypes[i] if fate == "keep" else draw(
            st.sampled_from(_LATTICE[t])
        )
        rfields.append({"name": f"f{i}", "type": rt})
        kept.append((i, t, rt))
    if draw(st.booleans()):
        rfields.append({"name": "added", "type": "long", "default": 7})
        added = True
    else:
        added = False
    perm = draw(st.permutations(rfields))
    writer = {"type": "record", "name": "R", "fields": wfields}
    reader = {"type": "record", "name": "R", "fields": list(perm)}
    nrows = draw(st.integers(min_value=1, max_value=5))
    rows, want = [], []
    for _ in range(nrows):
        row = {
            f"f{i}": draw(_value_strategy(t)) for i, t in enumerate(wtypes)
        }
        rows.append(row)
        # bytes values must be utf-8 decodable for a bytes->string read
        exp_ok = all(
            not (wt == "bytes" and rt == "string")
            or _utf8able(row[f"f{i}"])
            for i, wt, rt in kept
        )
        if not exp_ok:
            want.append((None, False))
            continue
        exp = {
            f"f{i}": _expected(row[f"f{i}"], wt, rt) for i, wt, rt in kept
        }
        if added:
            exp["added"] = 7
        want.append((exp, exp_ok))
    return writer, reader, rows, want


def _utf8able(b: bytes) -> bool:
    try:
        b.decode("utf-8")
        return True
    except UnicodeDecodeError:
        return False


@settings(max_examples=60, deadline=None)
@given(case=_evolution_case())
def test_property_schema_resolution_lattice(case):
    from s3_avro_repair_spark.avro_codec import (
        SchemaResolutionError,
        read_ocf_resolved,
        write_ocf_bytes,
    )

    writer, reader, rows, want = case
    data = write_ocf_bytes(writer, rows)
    decodable = all(ok for _, ok in want)
    if not decodable:
        with pytest.raises((SchemaResolutionError, UnicodeDecodeError)):
            read_ocf_resolved(data, reader)
        return
    got = read_ocf_resolved(data, reader)
    assert got == [exp for exp, _ in want]


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
    from s3_avro_repair_spark.avro_codec import read_ocf_logical

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
    from s3_avro_repair_spark.avro_codec import read_ocf_logical

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
    from s3_avro_repair_spark.avro_codec import read_ocf_logical

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
    from s3_avro_repair_spark.avro_codec import read_ocf_resolved

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

    from s3_avro_repair_spark.avro_codec import read_ocf_logical

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
    assert res.header_ok and res.repairable and res.n_blocks_bad == 1
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
    assert res.header_ok and res.repairable and res.n_blocks_bad == 1
