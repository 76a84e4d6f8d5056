"""Contracts of the shared similarity kernels in ``exprs.py``: the
rank-band join against brute force, and the word-trigram shingler
against the literal expressions its callers used to inline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_avro_repair_spark.exprs import band_join, word_trigrams

# (key, rank) piles: a singleton, piles smaller and larger than every
# width, and ranks with gaps, so pairs cross bucket boundaries
# (multiples of the width) at every offset.
_PILES = {
    0: [7],
    1: list(range(1, 6)),
    2: list(range(1, 41)),
    3: [0, 3, 4, 8, 9, 15, 16, 17, 30, 31, 32, 33, 34, 35, 47, 48, 64],
}


@pytest.mark.parametrize("width", [1, 4, 7, 16])
def test_band_join_matches_brute_force(spark, width):
    rows = [(k, r) for k, ranks in _PILES.items() for r in ranks]
    df = spark.createDataFrame(rows, "k int, rn long")
    a = df.select(F.col("k").alias("ka"), F.col("rn").alias("rn_a"))
    b = df.select(F.col("k").alias("kb"), F.col("rn").alias("rn_b"))
    got = sorted(
        tuple(r)
        for r in band_join(a, b, F.col("ka") == F.col("kb"), width)
        .select("ka", "rn_a", "rn_b")
        .collect()
    )
    want = sorted(
        (k, ra, rb)
        for k, ranks in _PILES.items()
        for ra in ranks
        for rb in ranks
        if 1 <= rb - ra <= width
    )
    assert want, "the piles must yield pairs"
    # every qualifying pair exactly once: duplicates would show in the
    # sorted lists, misses and extras as a difference
    assert got == want


# The inline trigram expressions word_trigrams replaced: floor 1 from
# llm._shingled / companions.dedup_near_recall, floor 0 from
# text_repetition / decontaminate / _ngram_candidates /
# q_corpus_pipeline.
_LITERAL = {
    1: (
        "zip_with(zip_with(slice(t, 1, greatest(size(t)-2, 1)),"
        " slice(t, 2, greatest(size(t)-2, 1)),"
        " (x, y) -> concat_ws(' ', x, y)),"
        " slice(t, 3, greatest(size(t)-2, 1)),"
        " (x, y) -> concat_ws(' ', x, y))"
    ),
    0: (
        "zip_with(zip_with(slice(t, 1, greatest(size(t)-2, 0)),"
        " slice(t, 2, greatest(size(t)-2, 0)), (x, y) -> concat_ws(' ', x, y)),"
        " slice(t, 3, greatest(size(t)-2, 0)), (x, y) -> concat_ws(' ', x, y))"
    ),
}


@pytest.mark.parametrize("floor", [0, 1])
def test_word_trigrams_match_literal(spark, floor):
    docs = [[f"w{i}" for i in range(n)] for n in range(5)] + [None]
    df = spark.createDataFrame([(d,) for d in docs], "t array<string>")
    got = df.select(
        word_trigrams("t", floor).alias("got"), F.expr(_LITERAL[floor]).alias("lit")
    ).collect()
    assert [r.got for r in got] == [r.lit for r in got]
    by_size = {len(d): r.got for d, r in zip(docs, got) if d is not None}
    assert by_size[4] == ["w0 w1 w2", "w1 w2 w3"]
    assert by_size[3] == ["w0 w1 w2"]
    assert by_size[0] == []
    if floor == 0:
        assert by_size[1] == by_size[2] == []
    else:  # one padded shingle below three tokens
        assert by_size[1] == ["w0"]
        assert by_size[2] == ["w0 w1"]
    assert got[-1].got is None
