"""Seeded inputs for the benchmark: fixture-shaped parquet tables and a
corrupt Avro fleet with its ground-truth manifest.

The seed decides values and placement only. Row counts, block counts
and the fleet's size distribution are fixed, so two seeds give the
program the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts (TESTDATA.md shapes, between sf0.001 and sf0.01).
ROWS = {
    "customer": 600,
    "supplier": 40,
    "part": 800,
    "orders": 6000,
    "events": 4000,
    "documents": 600,
    "embeddings": 500,
}
LINES_PER_ORDER = 4  # lineitem rows = orders x 4, 1..7 lines per order

_VOCAB = (
    "a the agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream table"
    " value vector window"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_PART_ADJ = np.array(["blue", "cold", "large", "small", "red", "green", "hot", "tiny"])
_PART_NOUN = np.array(["bolt", "widget", "rod", "gear", "nut", "pipe", "valve", "panel"])
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def table_data(seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables as Arrow tables, same schemas and value
    shapes as the driver's fixtures (TESTDATA.md)."""
    rng = np.random.default_rng([seed, 1])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    nc = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = ROWS["part"]
    retail = np.round(900 + (np.arange(npart) % 200) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": np.char.add(
            np.char.add(rng.choice(_PART_ADJ, npart), " "),
            rng.choice(_PART_NOUN, npart),
        ),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })
    no = ROWS["orders"]
    odate = _EPOCH_1995_US + rng.integers(0, 2404, no) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    # Lineitem: a fixed number of rows, 1..7 lines per sampled order.
    nl = no * LINES_PER_ORDER
    lines = rng.integers(1, 8, no)
    keys = np.repeat(np.arange(no), lines)[:nl]
    if len(keys) < nl:  # pad with extra orders (fixed row count per seed)
        keys = np.concatenate([keys, rng.integers(0, no, nl - len(keys))])
    keys = np.sort(keys)
    starts = np.r_[0, np.flatnonzero(np.diff(keys)) + 1]
    linenumber = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl])) + 1
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.minimum(linenumber, 7), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] + rng.uniform(0, 1, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), nl),
        "l_linestatus": rng.choice(np.array(["F", "O"]), nl),
        "l_shipdate": _ts(odate[keys] + rng.integers(1, 122, nl) * _DAY_US),
    })
    ne = ROWS["events"]
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, ne // 60, ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = ROWS["documents"]
    texts: list[str] = []
    for i in range(nd):
        # One document in twenty repeats an earlier one plus a marker
        # token: the near-duplicate pairs the dedup operators look for.
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = ROWS["embeddings"]
    label = rng.integers(0, 10, nv)
    centroids = rng.normal(0, 0.02, (10, 64))
    vec = rng.normal(0, 0.125, (nv, 64)) + centroids[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return t


def write_tables(seed: int, out_dir: str) -> int:
    """Write every table as ``{out_dir}/{name}.parquet``; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tab in table_data(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------------------
# corrupt Avro fleet
# ---------------------------------------------------------------------------

FLEET_FILES = 64
FLEET_DIRS = 8
BLOCK_RECORDS = 100
# About 23 MB over the codec mix, the largest container 9 MB. On four
# cores a warm CLI pass takes 5.9 s over 3.4 MB, 7.3 s over 34 MB and
# 10.2 s over 69 MB: about 5.5 s is per-job and per-task cost whatever
# the size, and single-thread salvage runs at about 4 MB/s. Here the
# straggler's salvage is about a third of the pass; a fleet where it
# dominates makes runs too long for the benchmark's time budget.
FLEET_BLOCKS = 10000
POOL_BLOCKS = 24  # distinct pre-encoded blocks per (codec, generation)
CODECS = ("null", "deflate", "snappy", "bzip2")
INJURIES = ("truncate", "flip", "bad_sync", "bad_header")
# The eight largest files (two thirds of the fleet) keep one codec,
# generation and health every seed, so every seed has the same critical
# path and about the same byte count; the seed places the long tail.
TOP_PLACEMENT = [
    ("snappy", 2), ("deflate", 2), ("null", 1), ("bzip2", 2),
    ("snappy", 1), ("null", 2), ("deflate", 1), ("bzip2", 1),
]


def fleet_blocks() -> list[int]:
    """Blocks per file, largest first: the largest container holds a
    third of the fleet and the rest decay as 1/rank (a long tail of
    small files). Independent of the seed."""
    first = FLEET_BLOCKS // 3
    w = 1.0 / np.arange(1, FLEET_FILES)
    rest = np.maximum(2, np.floor(w / w.sum() * (FLEET_BLOCKS - first))).astype(int)
    return [first] + rest.tolist()


def _block_pool(rng, schema, cols, codec, sync):
    """(header, [block units]) for one codec and writer schema: every
    unit is count + size + payload + the shared sync marker, so any
    sequence of units after the header is a valid container."""
    from s3_avro_repair_spark.avro_codec import block_spans, write_ocf_bytes

    n = POOL_BLOCKS * BLOCK_RECORDS
    data = {
        "o_orderkey": rng.integers(0, 1 << 40, n).tolist(),
        "o_custkey": rng.integers(0, 1 << 20, n).tolist(),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2).tolist(),
        "o_orderdate": (
            _EPOCH_1995_US + rng.integers(0, 2404, n) * _DAY_US
        ).tolist(),
    }
    recs = [dict(zip(cols, row)) for row in zip(*(data[c] for c in cols))]
    raw = write_ocf_bytes(
        schema, recs, codec=codec, block_records=BLOCK_RECORDS, sync=sync
    )
    spans = block_spans(raw)
    return raw[: spans[0][0]], [raw[s:e] for s, _, _, e in spans]


def expected_outcome(injury: str | None, n_blocks: int) -> tuple[str, int]:
    """(status, records salvaged) implied by the injury layout alone:
    truncation keeps the blocks before the cut middle block, a flipped
    first-block payload loses that block, a zeroed sync marker loses
    nothing (the payload still decodes), a clobbered magic loses all."""
    full = n_blocks * BLOCK_RECORDS
    if injury is None:
        return "healthy", full
    if injury == "truncate":
        return "repaired", (n_blocks // 2) * BLOCK_RECORDS
    if injury == "flip":
        return "repaired", full - BLOCK_RECORDS
    if injury == "bad_sync":
        return "repaired", full
    return "unrepairable", 0


def write_fleet(seed: int, out_dir: str) -> dict:
    """Write the fleet under ``{out_dir}/d=N/`` and return its manifest
    ``{"files": {relpath: {...}}, "bytes": total}``."""
    from s3_avro_repair_spark.sources.avro_pipeline import (
        OLD_ORDERS_SCHEMA,
        ORDERS_SCHEMA,
        inject_bad_header,
        inject_bad_sync,
        inject_flip,
        inject_truncate,
    )

    inject = dict(zip(INJURIES, (inject_truncate, inject_flip, inject_bad_sync,
                                 inject_bad_header)))
    rng = np.random.default_rng([seed, 2])
    sync = rng.bytes(16)
    gens = {
        1: (OLD_ORDERS_SCHEMA, [f["name"] for f in OLD_ORDERS_SCHEMA["fields"]]),
        2: (ORDERS_SCHEMA, [f["name"] for f in ORDERS_SCHEMA["fields"]]),
    }
    pools = {
        (codec, gen): _block_pool(rng, schema, cols, codec, sync)
        for codec in CODECS
        for gen, (schema, cols) in gens.items()
    }
    sizes = fleet_blocks()
    n = len(sizes)
    combos = [(c, g) for c in CODECS for g in gens]
    # Each later run of eight size ranks gets every (codec, generation)
    # pair once, in a seeded order.
    placed = list(TOP_PLACEMENT)
    while len(placed) < n:
        placed.extend(combos[k] for k in rng.permutation(len(combos)))
    codec_of = [c for c, _ in placed]
    gen_of = [g for _, g in placed]
    hurt = rng.choice(np.arange(len(TOP_PLACEMENT), n), n // 8, replace=False)
    injury_of: dict[int, str] = {
        int(f): INJURIES[k % len(INJURIES)] for k, f in enumerate(hurt)
    }
    names = rng.permutation(n)
    dirs = rng.integers(0, FLEET_DIRS, n)
    files = {}
    total = 0
    for i, n_blocks in enumerate(sizes):
        header, pool = pools[(codec_of[i], gen_of[i])]
        start = int(rng.integers(0, POOL_BLOCKS))
        data = header + b"".join(
            pool[(start + j) % POOL_BLOCKS] for j in range(n_blocks)
        )
        injury = injury_of.get(i)
        if injury:
            data = inject[injury](data)
        rel = f"d={dirs[i]}/part-{names[i]:05d}.avro"
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fo:
            fo.write(data)
        status, records = expected_outcome(injury, n_blocks)
        files[rel] = {
            "bytes": len(data), "blocks": n_blocks, "codec": codec_of[i],
            "generation": gen_of[i], "injury": injury, "status": status,
            "records": records,
        }
        total += len(data)
    return {"files": files, "bytes": total}
