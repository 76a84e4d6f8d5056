"""J group — the full join surface.

Join-strategy posture for 100 TB:
- dimension tables (region/nation/supplier, constant-or-sublinear size)
  are ALWAYS broadcast — no shuffle of the fact side at all;
- fact-fact joins (orders ⋈ lineitem) are shuffle joins on the key;
  AQE handles skew splitting at runtime;
- non-equi (theta/interval) joins keep one TINY side so Spark picks
  BroadcastNestedLoopJoin — a cartesian of two big sides is never
  acceptable at scale, so every theta op here bounds one input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import davg
from ..plans.registry import register
from ..tables import table


@register(
    "join_inner",
    group="J",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join customer ⋈ orders (hash join; AQE may broadcast)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "inner").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_broadcast",
    group="J",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the small dimension — zero shuffle on the
    probe side. This is the hint every dim join in this repo uses."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@register(
    "join_sort_merge",
    group="J",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
)
def join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large fact join with an explicit MERGE hint.

    At 100 TB: if both sides were bucketed by orderkey into the same
    bucket count, this runs with NO exchange at all (bucketed
    sort-merge join) — see sources/scans.py sink ops for the layout.
    """
    o = table(spark, sf_dir, "orders").hint("merge")
    li = table(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey", "l_linenumber", "l_quantity", "o_totalprice"
    )


@register(
    "join_left",
    group="J",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer — customers without orders null-extend."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey"
    )


@register(
    "join_right",
    group="J",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey
    FROM orders o RIGHT JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer (mirror of join_left, preserves the right side)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return o.join(c, c.c_custkey == o.o_custkey, "right").select(
        "o_orderkey", "c_custkey"
    )


@register(
    "join_full",
    group="J",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey
    FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with null-extension on both sides."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@register(
    "join_semi",
    group="J",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS — left-semi join: emits each matching left row once,
    never widens the row, and stops probing at first match."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    group="J",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS — left-anti join."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    group="J",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — only ever legitimate between two tiny dims;
    both sides here are constant-size regardless of scale factor."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_theta",
    group="J",
    oracle="""
    SELECT c.c_custkey, t.nationkey
    FROM customer c
    JOIN (
      SELECT s_nationkey AS nationkey,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM supplier GROUP BY s_nationkey
    ) t ON c.c_acctbal > t.avg_bal
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi predicate -> BroadcastNestedLoopJoin: customers
    whose balance beats each nation's average supplier balance. The
    broadcast side is a 25-row aggregate (one per nation), so cost AND
    output are O(25 x |customer|) — linear at any SF. The previous
    formulation (supplier.acctbal < customer.acctbal raw) had a
    quadratic ANSWER — both sides scale with SF, so ~half the cross
    product qualifies; the 10x census measured 74x wall from output
    volume alone. A theta join is only a sane operator when one side
    is genuinely bounded; this rewrite keeps the
    BroadcastNestedLoopJoin demo and makes the bound real. The average
    uses the decimal-exact sum/count form (exprs.davg) so the
    inequality boundary is bit-identical across engines."""
    s = table(spark, sf_dir, "supplier")
    t = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        davg("s_acctbal", "avg_bal")
    )
    c = table(spark, sf_dir, "customer")
    return (
        F.broadcast(t)
        .join(c, c.c_acctbal > t.avg_bal)
        .select("c_custkey", "nationkey")
    )


@register(
    "join_interval",
    group="J",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber,
           CAST(CAST(l.l_shipdate AS DATE) AS VARCHAR) AS shipdate
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + interval predicate: lineitems shipped within 90 days
    of their order date. The equi part keeps it a hash/merge join; the
    interval is a post-join residual — no nested loop."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cond = (
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < o.o_orderdate + F.expr("INTERVAL 90 DAY"))
    )
    return o.join(li, cond).select(
        "o_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").cast("string").alias("shipdate"),
    )


def _events_and_orders(
    spark: SparkSession, sf_dir: str, event_kind: int
) -> DataFrame:
    """The as-of joins' one relation: events and orders unioned as
    (user_id, ts, event_id, odate, kind), an order's ts and odate being
    its o_orderdate. Events carry ``kind = event_kind`` and orders the
    other of 0/1, so ordering by (ts, kind) puts the kind-0 side first
    at equal ts: orders for a backward match (``event_kind=1``),
    events for a forward one (``event_kind=0``)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("timestamp").alias("odate"),
        F.lit(event_kind).alias("kind"),
    )
    od = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").alias("odate"),
        F.lit(1 - event_kind).alias("kind"),
    )
    return ev.unionByName(od)


@register(
    "join_asof",
    group="J",
    oracle="""
    SELECT e.event_id, CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS asof_orderdate
    FROM events e ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the latest order of the same
    customer at-or-before the event time.

    Spark has no ASOF JOIN operator. The scale-safe composition is NOT
    a join at all: union both sides tagged by kind, then one
    ``last(order_date, ignorenulls=True)`` window per user ordered by
    time. A join on user_id with a ts residual materializes
    (events x prior orders) per user — quadratic per key, a skew bomb
    at 100x — while this plan is one shuffle on user_id and linear in
    |events| + |orders|. Orders sort before events at equal ts
    (kind 0 < 1) so ``ts >= o_orderdate`` ties match, and tied orders
    share the same o_orderdate so the result is deterministic. (We
    return the as-of DATE rather than an order id so ties stay
    deterministic — DuckDB's ASOF picks an arbitrary row among ties.)
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = _events_and_orders(spark, sf_dir, event_kind=1).withColumn(
        "asof", F.last("odate", ignorenulls=True).over(w)
    )
    return (
        merged.filter((F.col("kind") == 1) & F.col("asof").isNotNull())
        .select(
            "event_id",
            F.col("asof").cast("date").cast("string").alias("asof_orderdate"),
        )
    )


@register(
    "join_dpp",
    group="J",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    JOIN (SELECT o_orderstatus FROM orders GROUP BY o_orderstatus
          HAVING MAX(o_orderkey) = (SELECT MAX(o_orderkey) FROM orders)) d
      ON o.o_orderstatus = d.o_orderstatus
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    Hive-partitioned on the join column, and the qualifying dim value
    (the status of the newest order — an aggregate of the data) is
    only computable at runtime, so no static filter can reach the fact
    scan. Spark injects a dynamic pruning subquery into the scan's
    PartitionFilters instead: the dim side runs first, its statuses
    feed the fact scan, and non-matching partitions are never read.
    At 100 TB this is the difference between reading one partition and
    the whole table — the scan-side win static pushdown cannot deliver
    when the predicate lives across a join. (A CONSTANT dim filter
    would not exercise DPP: Catalyst propagates it through the join as
    a static partition filter — strictly better, and worth knowing.)
    tests/test_quality.py asserts the dynamicpruning expression is in
    the physical plan. The max-key anchor keeps the selected set
    deterministic at every fixture scale."""
    o = table(spark, sf_dir, "orders")
    # Explicit schema on the fact read: a zero-row layout (empty input
    # partition) has no data files to infer from; DPP's partition
    # discovery and pruning are unaffected by a provided schema.
    fact = spark.read.schema(o.schema).parquet(_ensure_dpp_fact(spark, sf_dir))
    # DPP's planner rule wants the classic shape: a selective filter on
    # a NON-join dim column. The max-key anchor is an in-plan scalar
    # subquery (no driver action), but the qualifying STATUSES still
    # require executing the dim at runtime — exactly what the dynamic
    # pruning subquery does.
    dim = spark.sql(
        """
        SELECT o_orderstatus FROM {o}
        GROUP BY o_orderstatus
        HAVING MAX(o_orderkey) = (SELECT MAX(o_orderkey) FROM {o2})
        """,
        o=o, o2=o,
    )
    return (
        fact.join(F.broadcast(dim), "o_orderstatus")
        .select("o_orderkey", "o_totalprice")
    )


def _ensure_dpp_fact(spark: SparkSession, sf_dir: str) -> str:
    """Hive-partitioned orders layout for the DPP demo, built once per
    sf_dir into the versioned fixture cache (same discipline as
    ensure_avro_fixtures) — the layout is a FIXTURE, not per-call work."""
    import os

    from ..sources.avro_pipeline import _cached_tree

    def build(tmp: str) -> None:
        out = os.path.join(tmp, "orders_by_status")
        table(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(out)

    root = _cached_tree(sf_dir, "dppfact_v1", ("orders",), build)
    return os.path.join(root, "orders_by_status")


@register(
    "join_runtime_filter",
    group="J",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    """,
)
def join_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join — the shuffle-side analog of join_dpp.
    When the fact table is NOT partitioned on the join key (so DPP has
    nothing to prune) and the dim side carries a selective filter,
    Spark's InjectRuntimeFilter builds a bloom filter over the dim's
    join keys at runtime and pushes a might_contain() probe into the
    fact SCAN: most fact rows die before the shuffle instead of after
    it. At 100 TB that is the difference between shuffling the whole
    fact table and shuffling the ~selectivity fraction that can join.

    The production defaults only engage past a 10 GB probe-side scan;
    at fixture scale the op lowers that threshold (and disables the
    broadcast fallback so a shuffle join exists to filter) —
    tune_for_oracle re-asserts the defaults on every other op, so the
    override cannot leak. Semantics are unchanged either way, which is
    exactly the point: same hash, ~selectivity× the shuffle.
    tests/test_quality.py pins bloom_filter_agg + might_contain in the
    physical plan."""
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "o_totalprice"
    )


@register(
    "join_lateral",
    group="J",
    oracle="""
    SELECT n_name, s.s_suppkey, s.s_acctbal
    FROM nation,
         LATERAL (SELECT s_suppkey, s_acctbal
                  FROM supplier
                  WHERE s_nationkey = n_nationkey
                  ORDER BY s_acctbal DESC, s_suppkey
                  LIMIT 2) s
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (Spark 4 ``DataFrame.lateralJoin`` with
    ``.outer()`` column references): for every nation, the top-2
    suppliers by account balance — a per-row dependent subquery, the
    SQL construct that generalizes ``explode`` to arbitrary correlated
    table expressions.

    Catalyst decorrelates the lateral subquery: the ORDER BY/LIMIT
    per outer row becomes a ranked window over the join of the two
    inputs (DecorrelateInnerQuery), so the physical plan is a join +
    per-key top-k — never a per-row re-execution loop. That is why
    this survives scale: the work is one pass over supplier however
    many outer rows there are. (For THIS query shape
    window_topk_per_group is the direct formulation; lateralJoin earns
    its place when the inner table expression is not expressible as a
    window — a UDTF call, a range probe, a per-row parameterized
    scan.)

    The correlation keys are cast to a common type in a PROJECTION
    below the correlated filter, never inside it: Spark 4.1's
    decorrelation only recognizes a bare same-type equality, and a
    cast anywhere in the predicate (explicit, or implicit from dtype
    drift between table generations) makes it silently drop the
    correlation — the ORDER BY is eliminated and LIMIT 2 applies
    GLOBALLY, returning 2 arbitrary rows instead of 2 per outer row.
    Wrong results, no error, both DataFrame and SQL LATERAL paths."""
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    nk_type = n.schema["n_nationkey"].dataType.simpleString()
    s = s.select(
        "s_suppkey", "s_acctbal", F.col("s_nationkey").cast(nk_type).alias("s_nationkey")
    )
    sub = (
        s.where(F.col("s_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.desc("s_acctbal"), "s_suppkey")
        .limit(2)
        .select("s_suppkey", "s_acctbal")
    )
    return n.lateralJoin(sub).select("n_name", "s_suppkey", "s_acctbal")


@register(
    "join_asof_forward",
    group="J",
    oracle="""
    SELECT e.event_id,
           CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS next_orderdate
    FROM events e ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event matched to the EARLIEST order of
    the same customer at-or-after the event time — the other direction
    of pandas.merge_asof, the lookup behind "what did the user buy
    NEXT after this touchpoint".

    Same no-join plan as join_asof, mirrored: union both sides tagged
    by kind, one ``first(order_date, ignorenulls=True)`` window per
    user over the CURRENT-ROW-TO-FOLLOWING frame. Events sort before
    orders at equal ts (kind 0 < 1) so ``ts <= o_orderdate`` ties
    match; tied orders share the o_orderdate, so returning the DATE
    keeps ties deterministic. One shuffle on user_id, linear in
    |events| + |orders| — never the quadratic ts-residual join."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = _events_and_orders(spark, sf_dir, event_kind=0).withColumn(
        "nxt", F.first("odate", ignorenulls=True).over(w)
    )
    return (
        merged.filter((F.col("kind") == 0) & F.col("nxt").isNotNull())
        .select(
            "event_id",
            F.col("nxt").cast("date").cast("string").alias("next_orderdate"),
        )
    )


@register(
    "join_null_safe",
    group="J",
    oracle="""
    WITH a AS (SELECT NULLIF(CAST(floor(l_discount * 100 + 0.5) AS INT), 5)
                 AS tier
               FROM lineitem WHERE l_quantity < 5),
    b AS (SELECT DISTINCT
                 NULLIF(CAST(floor(l_discount * 100 + 0.5) AS INT), 5) AS tier
          FROM lineitem WHERE l_quantity > 45)
    SELECT a.tier, CAST(COUNT(*) AS BIGINT) AS n
    FROM a JOIN b ON a.tier IS NOT DISTINCT FROM b.tier
    GROUP BY a.tier
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    join-surface axis where NULL keys MATCH each other instead of
    silently dropping — what you want when NULL is a real category
    ("no tier") rather than unknown. The fixtures carry no natural
    nulls (filter_null precedent), so a tier column is manufactured
    with NULLIF; the null tier's row in the output is the semantic
    point. floor(x*100 + 0.5) is the skill-blessed half-up that is
    bit-identical on both engines — never CAST(x*100 AS INT), whose
    truncation flips on 5.000000000000001-style doubles.

    Plan note: <=> is still an equi-join (both engines hash NULL to a
    match bucket) — hash/sort-merge, never a loop; Spark broadcasts
    the distinct-tier side here."""
    li = table(spark, sf_dir, "lineitem")
    tier = F.nullif(
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("int"), F.lit(5)
    )
    a = li.filter(F.col("l_quantity") < 5).select(tier.alias("tier"))
    b = (
        li.filter(F.col("l_quantity") > 45)
        .select(tier.alias("btier"))
        .distinct()
    )
    return (
        a.join(F.broadcast(b), a.tier.eqNullSafe(b.btier))
        .groupBy("tier")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "join_asof_tolerance",
    group="J",
    oracle="""
    SELECT e.event_id,
           CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS asof_orderdate
    FROM events e ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    WHERE epoch_us(e.ts) - epoch_us(o.o_orderdate) <= 734400000000000
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness TOLERANCE: each event
    matched to the latest same-customer order at-or-before it, but a
    match older than the tolerance is discarded — pandas
    ``merge_asof(tolerance=...)`` semantics, and what production asof
    consumers actually want (a price/state snapshot from last year is
    not a match, it is stale data silently poisoning the join).

    Same scale-safe composition as join_asof — union both sides, one
    ``last(ignorenulls)`` window per user, NEVER a join with a ts
    residual (quadratic per key) — with the tolerance applied as a
    post-match integer-µs filter. The tolerance CANNOT move which
    order matches (it is the latest prior order or nothing), so both
    engines filter the same matched pairs: DuckDB's ASOF JOIN + the
    same epoch_us cut is value-identical, ties handled as in
    join_asof (kind orders-first, date payload)."""
    # The tolerance is a DIAL; 8500 days is calibrated to the fixture's
    # inter-table clock skew (events ~8200-9800 days after their latest
    # prior order, q50 ~8372d) so BOTH the keep and the drop path carry
    # rows at every SF — a 30-day production value is a one-line change.
    tol_us = 8500 * 86400 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = _events_and_orders(spark, sf_dir, event_kind=1).withColumn(
        "asof", F.last("odate", ignorenulls=True).over(w)
    )
    return (
        merged.filter(
            (F.col("kind") == 1)
            & F.col("asof").isNotNull()
            & (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof"))
                <= tol_us
            )
        )
        .select(
            "event_id",
            F.col("asof").cast("date").cast("string").alias("asof_orderdate"),
        )
    )


@register(
    "join_asof_nearest",
    group="J",
    oracle="""
    WITH merged AS (
      SELECT user_id, ts, event_id,
             CAST(NULL AS TIMESTAMP) AS odate, 1 AS kind
      FROM events
      UNION ALL
      SELECT o_custkey AS user_id, o_orderdate AS ts,
             CAST(NULL AS BIGINT) AS event_id,
             o_orderdate AS odate, 0 AS kind
      FROM orders
    ),
    win AS (
      SELECT event_id, ts, kind,
             last_value(odate IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, kind
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS bdate,
             first_value(odate IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, kind
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS fdate
      FROM merged
    )
    SELECT event_id,
           CAST(CAST(CASE
             WHEN bdate IS NULL THEN fdate
             WHEN fdate IS NULL THEN bdate
             WHEN epoch_us(ts) - epoch_us(bdate)
                  <= epoch_us(fdate) - epoch_us(ts) THEN bdate
             ELSE fdate END AS DATE) AS VARCHAR) AS nearest_orderdate
    FROM win
    WHERE kind = 1 AND (bdate IS NOT NULL OR fdate IS NOT NULL)
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join — pandas ``merge_asof(direction='nearest')``,
    completing the family (join_asof backward, join_asof_forward
    forward): each event matched to the same customer's CLOSEST order
    in time, either direction, ties resolved backward (an equal-ts
    order is distance 0 on the backward side, so both engines pick it
    by the same <= rule).

    One union, ONE sort: both directions come out of the same
    partitionBy(user)/orderBy(ts, kind) sort as two frames — a
    trailing ``last(ignorenulls)`` and a leading ``first(ignorenulls)``
    (the ts_interpolate multi-frame trick: identical partition+order
    specs plan a single Window sort). Orders sort before events at
    equal ts (kind 0 < 1) so ties land in the backward frame. The
    nearest pick is then integer-µs arithmetic on the two candidate
    dates. Never a join with a ts residual — linear in
    |events| + |orders| with one shuffle, at any skew.

    The oracle mirrors the SAME union+two-frame window formulation in
    DuckDB (IGNORE NULLS frames) rather than re-joining ASOF CTEs back
    on event_id: a re-join fans out 2x2 on duplicate event_ids (the
    production shard plants 3 full-row dup ids), while both these
    row-keyed plans emit exactly one row per event ROW."""
    order = Window.partitionBy("user_id").orderBy("ts", "kind")
    w_back = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    merged = _events_and_orders(spark, sf_dir, event_kind=1).select(
        "event_id",
        "ts",
        "kind",
        F.last("odate", ignorenulls=True).over(w_back).alias("bdate"),
        F.first("odate", ignorenulls=True).over(w_fwd).alias("fdate"),
    )
    us = F.unix_micros
    nearest = (
        F.when(F.col("bdate").isNull(), F.col("fdate"))
        .when(F.col("fdate").isNull(), F.col("bdate"))
        .when(
            us(F.col("ts")) - us(F.col("bdate"))
            <= us(F.col("fdate")) - us(F.col("ts")),
            F.col("bdate"),
        )
        .otherwise(F.col("fdate"))
    )
    return (
        merged.filter(
            (F.col("kind") == 1)
            & (F.col("bdate").isNotNull() | F.col("fdate").isNotNull())
        )
        .select(
            "event_id",
            nearest.cast("date").cast("string").alias("nearest_orderdate"),
        )
    )
