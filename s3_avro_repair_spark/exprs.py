"""Shared expression helpers: oracle-exact numerics, and the one
definition of each similarity and text kernel the dedup, similarity
and graph operators share (rank-band join, word trigrams, text
normalization, vector norm/cosine/L2, the both-ways edge list).

Fixture money/rate columns are doubles that carry exactly 2 decimal
places (FIXTURES.md). Summing doubles directly is order-dependent
(Spark's partial/final agg order differs from DuckDB's sequential
scan), so value hashes would be flaky. Casting to DECIMAL(18,2) first
makes every sum EXACT integer arithmetic — bit-identical in both
engines — and a final cast back to DOUBLE keeps the output schema
simple. The same trick in SQL:

    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)

At 100 TB this is also the *right* thing: decimal sums don't lose
precision across billions of rows the way double sums do, and the cast
is JVM-side whole-stage-codegen (no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

DEC = DecimalType(18, 2)


def dec2(c: Column | str) -> Column:
    """Lossless decimal view of a 2-dp money/rate double column."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(DEC)


def dsum(c: Column | str, alias: str) -> Column:
    """Exact sum of a 2-dp double column, returned as DOUBLE."""
    return F.sum(dec2(c)).cast("double").alias(alias)


def davg(c: Column | str, alias: str) -> Column:
    """Exact-numerator average: decimal sum / count, double division.

    Both engines perform the same double division of identical
    operands, so the result is bit-identical (unlike AVG(double),
    whose accumulation order differs).
    """
    c = F.col(c) if isinstance(c, str) else c
    return (F.sum(dec2(c)).cast("double") / F.count(F.lit(1))).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS {alias}"


# ---------------------------------------------------------------------------
# similarity and text kernels
#
# Each kernel is a SQL text template where the operators' plans depend
# on the exact expression tree (lambda variable names included), so
# every caller builds the same plan it always did.


def band_join(a: DataFrame, b: DataFrame, on: Column, width: int) -> DataFrame:
    """Rank-neighbourhood band join: the pairs of ``a`` x ``b`` that
    satisfy ``on`` and lie 1..``width`` rank positions apart, where
    ``a`` carries its rank as ``rn_a`` and ``b`` as ``rn_b``. The rank
    bucket is part of the equi-join key: ``a`` explodes to its two
    admissible buckets ``rn_a DIV width`` and ``+ 1`` (a partner at most
    ``width`` ranks later can hash nowhere else), ``b`` hashes to
    ``rn_b DIV width``, so each qualifying pair meets exactly once and
    joined rows stay O(2 width) per row however large the key's pile.
    Both sides gain a ``bkt`` column."""
    a = a.withColumn(
        "bkt",
        F.explode(
            F.array(F.expr(f"rn_a DIV {width}"), F.expr(f"rn_a DIV {width} + 1"))
        ),
    )
    b = b.withColumn("bkt", F.expr(f"rn_b DIV {width}"))
    return a.join(
        b,
        on
        & (a["bkt"] == b["bkt"])
        & (F.col("rn_b") - F.col("rn_a") >= 1)
        & (F.col("rn_b") - F.col("rn_a") <= width),
    )


def word_trigrams(tokens: str, floor: int) -> Column:
    """The space-joined word trigrams of the token-array column
    ``tokens``, built index-free: ``zip_with`` over three shifted
    slices of length ``greatest(size - 2, floor)``. An indexed lambda
    dereferencing the token array re-runs a substituted ``split`` per
    element (O(tokens^2)); here every slice is evaluated once per row.

    ``floor`` 0 gives exactly the n-2 trigrams (none below 3 tokens);
    ``floor`` 1 pads a 1- or 2-token document to one partial shingle
    (zip_with pads the shorter slice with null and concat_ws skips
    nulls), so MinHash never sees an empty set for non-empty text."""
    n = f"greatest(size({tokens})-2, {floor})"
    return F.expr(
        f"zip_with(zip_with(slice({tokens}, 1, {n}), slice({tokens}, 2, {n}),"
        " (x, y) -> concat_ws(' ', x, y)),"
        f" slice({tokens}, 3, {n}), (x, y) -> concat_ws(' ', x, y))"
    )


def normalized_text(c: Column | str) -> Column:
    """Canonical text normalization: lowercase, every run of
    non-alphanumerics to one space, whitespace runs collapsed, trimmed.
    DuckDB twin: ``trim(regexp_replace(regexp_replace(lower(text),
    '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g'))``."""
    c = F.col(c) if isinstance(c, str) else c
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9 ]+", " "), " +", " "
        )
    )


# Double dot product of two array columns, summed left to right (the
# DuckDB oracles' SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))).
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def norm(vec: str) -> Column:
    """Per-row vector norm ``sqrt(dot(v, v))``, computed ONCE before
    pair generation.

    The HOF lambdas (zip_with/aggregate) are interpreted per element,
    not codegen'd, so recomputing both norms inside every candidate
    pair costs 3 array passes per pair instead of 1. Precomputing the
    norm per row is bit-identical (same expression tree, same summation
    order, evaluated once) and cuts pair arithmetic 3x — at 100 TB
    you'd persist the norm (or pre-normalized vectors) as a table
    column at ingest."""
    return F.sqrt(F.expr(_DOT.format(a=vec, b=vec)))


def cosine() -> Column:
    """Cosine of a candidate pair row carrying the vectors ``ea``/``eb``
    and their precomputed norms ``na``/``nb``. An all-zero vector has
    norm 0 and no direction: its cosine is NULL, as in the DuckDB
    oracles (``x / 0.0`` is NULL there), so it fails every threshold
    and sorts after every scored neighbour. A plain ``/`` would raise
    DIVIDE_BY_ZERO under ANSI mode and abort the whole job."""
    return F.try_divide(
        F.expr(_DOT.format(a="ea", b="eb")), F.col("na") * F.col("nb")
    )


def l2_distance(a: str, b: str) -> Column:
    """Euclidean distance between the array columns ``a`` and ``b``."""
    return F.sqrt(
        F.expr(
            f"aggregate(zip_with({a}, {b},"
            " (x, y) -> (cast(x AS double) - cast(y AS double))"
            "          * (cast(x AS double) - cast(y AS double))),"
            " cast(0 AS double), (a, x) -> a + x)"
        )
    )


def both_ways(pairs: DataFrame) -> DataFrame:
    """The distinct directed edge list ``(src, dst)`` holding each
    undirected pair ``(id_a, id_b)`` in both directions."""
    return (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
