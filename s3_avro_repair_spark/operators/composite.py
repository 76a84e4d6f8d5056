"""Q group — composite multi-operator queries.

Single-op correctness (P/J/G/W/…) proves each piece; these queries
prove the pieces COMPOSE: multi-way dim/fact joins feeding
aggregations feeding top-k, aggregate-join-aggregate shapes, and a
full corpus-curation pipeline (filter → dedup → stats) in one plan.
They are the queries a user of the reference would actually run
end-to-end, and the shapes Catalyst's join reordering / broadcast
selection / partial aggregation are built for — so they double as the
bench's composition headliners.

Every query is hash-checked against a DuckDB oracle; money arithmetic
uses the exact-decimal pattern from exprs.py; top-k ORDER BYs carry a
unique tie-break key so the LIMIT cut is deterministic on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import dec2, dsum, word_trigrams
from ..plans.registry import register
from ..tables import table

# Exact-decimal revenue, shared by the three TPC-H-shaped queries.
_SQL_REVENUE = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue"
)


def _revenue() -> F.Column:
    one = F.lit(1).cast("decimal(18,2)")
    return (
        F.sum(dec2("l_extendedprice") * (one - dec2("l_discount")))
        .cast("double")
        .alias("revenue")
    )


@register(
    "q_shipping_priority",
    group="Q",
    oracle=f"""
    SELECT l_orderkey,
           {_SQL_REVENUE},
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers ⋈
    orders ⋈ lineitem, revenue per open order, top 10.

    The plan Catalyst should pick — and does — at any scale: customer
    (pre-filtered to one segment, but SF-scaling, so deliberately
    UNhinted — the size estimator broadcasts it at fixture scale and
    degrades to a shuffle join at 100 TB instead of OOMing on a forced
    multi-TB build side) joins into orders, that result
    broadcasts-or-shuffles into lineitem depending on selectivity
    stats, partial aggregation runs map-side before the groupBy
    shuffle, and the top-10 is a TakeOrdered (per-partition heap +
    driver merge of 10×partitions rows), never a global sort."""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o.join(c, o.o_custkey == c.c_custkey),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_revenue())
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q_local_supplier",
    group="Q",
    oracle=f"""
    SELECT n_name, {_SQL_REVENUE}
    FROM customer
    JOIN orders   ON c_custkey   = o_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    JOIN supplier ON l_suppkey   = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): a 6-way star join —
    region → nation → customer on one arm, supplier on the other, the
    arms meeting at lineitem with the locality condition s_nationkey =
    c_nationkey — aggregated to revenue per nation.

    Only the O(1) dims are HINT-broadcast (region 5 rows, nation 25 —
    fixed at every SF); supplier and the nation-filtered customer arm
    scale WITH SF, so they carry no hint: the size estimator
    broadcasts them at fixture scale and at 100 TB rightly degrades
    to a shuffle join rather than building a multi-TB hash table.
    Join ORDER matters at 100 TB — dims first to shrink the fact
    early — and is exactly what Catalyst's reordering does."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    cust_arm = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_arm, o.o_custkey == F.col("c_custkey"))
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(_revenue())
    )


@register(
    "q_returned_items",
    group="Q",
    oracle=f"""
    SELECT c_custkey, c_name, n_name, {_SQL_REVENUE}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): revenue lost to
    returns per customer over one quarter, top 20 — fact filtered on
    returnflag, orders quarter-filtered (fact-fact join left to
    AQE, which demotes it to broadcast when the filtered side is
    small), nation HINT-broadcast (O(1) at every SF) while customer —
    which scales WITH SF — is left to the size estimator (broadcast at
    fixture scale, shuffle join at 100 TB), aggregate keyed on
    the customer (high cardinality, unlike Q1/Q5).

    The high-cardinality groupBy is the part to watch at 100 TB: the
    shuffle carries one row per (customer) per map task. Partial
    aggregation still collapses the per-task duplicates, and the top-20
    stays a TakeOrdered — no global sort of the aggregate."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_revenue())
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q_large_orders",
    group="Q",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    SELECT c_custkey, COUNT(*) AS n_big_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           CAST(SUM(CAST(sum_qty AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): aggregate → join →
    aggregate. Lineitem is first collapsed per order (HAVING sum qty >
    threshold), the surviving order keys join back to orders and
    customers, then a second aggregation rolls up per customer.

    The first aggregation is the scale valve: it reduces the fact to
    order grain BEFORE any join, so the join input shrinks by the
    average lines-per-order factor, and the HAVING cuts it further.
    Spark runs both aggregations partial+final; the big→orders join
    keys are both order-grain so AQE can pick a co-partitioned plan."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec2("l_quantity")).alias("dq"))
        .filter(F.col("dq") > 150)
        .select("l_orderkey", F.col("dq").cast("double").alias("sum_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_big_orders"),
            F.sum(dec2("o_totalprice")).cast("double").alias("total_price"),
            F.sum(dec2("sum_qty")).cast("double").alias("total_qty"),
        )
    )


@register(
    "q_corpus_curation",
    group="Q",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, text, n_chars,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    kept AS (
      SELECT * FROM toks WHERE n_tokens >= 5 AND n_chars >= 30
    ),
    canon AS (
      SELECT * FROM (
        SELECT doc_id, lang, n_chars, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                 AS rn
        FROM kept
      ) WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
    FROM canon GROUP BY lang
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data pipeline in ONE plan: quality
    filter (min tokens, min chars) → exact dedup (keep the minimum
    doc_id per full-text hash) → per-language corpus stats. Each stage
    exists as its own op (text_quality, dedup_exact, text_stats); this
    query proves they fuse into a single job with no materialization
    between stages.

    Plan: narrow filter (pushdown-friendly) → one shuffle on
    md5(text) for the dedup window → one shuffle on lang for the
    stats. At 100 TB the dedup shuffle dominates; it hashes the
    128-bit digest, not the document text, so shuffle bytes are
    metadata-sized — the same reason dedup_exact groups on digest."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        "text",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    kept = toks.filter((F.col("n_tokens") >= 5) & (F.col("n_chars") >= 30))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    canon = kept.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return canon.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )


@register(
    "q_nation_volume",
    group="Q",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {_SQL_REVENUE}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice, l_discount
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
         OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade — revenue
    between two named nations in both directions, by ship year. The
    supplier arm and customer arm each resolve to a nation name via
    broadcast dim joins; the disjunctive pair predicate applies after
    both arms land on the fact row.

    Scale posture: the nation filter REACHES the dims before any fact
    work — supplier and customer shrink to two nations' worth before
    joining the fact (the nation lookups inside each arm ARE
    hint-broadcast; the arms themselves scale with SF and are left to
    the estimator) — so the fact rows that survive the supplier
    semi-filter are the only ones carried into the orders join. Year
    extraction is codegen; the final aggregate is 2 directions × a few
    years of groups."""
    n = table(spark, sf_dir, "nation")
    pair = ["NATION_18", "NATION_19"]
    n_small = n.filter(F.col("n_name").isin(pair))
    s = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n_small.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                n_small.select(
                    F.col("n_nationkey").alias("nk2"),
                    F.col("n_name").alias("cust_nation"),
                )
            ),
            F.col("c_nationkey") == F.col("nk2"),
        )
        .select("c_custkey", "cust_nation")
    )
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            "l_extendedprice",
            "l_discount",
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_revenue())
    )


@register(
    "q_promo_revenue",
    group="Q",
    oracle="""
    WITH j AS (
      SELECT CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev, p_type
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    )
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev END) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 4) AS promo_pct
    FROM j
    """,
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): one month of lineitem ⋈ part,
    percentage of revenue from promo-typed parts. The shape is a
    conditional-aggregate ratio over a dim-style join: part (unhinted —
    it scales with SF; the estimator broadcasts it at fixture scale and
    shuffles at 100 TB), the month filter pushes to the fact scan, and BOTH sums
    come out of ONE partial-aggregate pass (a CASE inside one agg, not
    two scans). Numerator/denominator are exact decimal sums; only the
    final ratio is double division, rounded on both engines.

    (Fixture p_type holds plain category words — 'PROMO', 'ECONOMY', … —
    so the predicate is equality, not TPC-H's 'PROMO%' LIKE.)"""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    one = F.lit(1).cast("decimal(18,2)")
    rev = dec2("l_extendedprice") * (one - dec2("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("promo"),
            F.sum(rev).alias("total"),
        )
        .select(
            F.round(
                F.lit(100.0) * F.col("promo").cast("double")
                / F.col("total").cast("double"),
                4,
            ).alias("promo_pct")
        )
    )


@register(
    "q_disjunctive_revenue",
    group="Q",
    oracle=f"""
    SELECT {_SQL_REVENUE}, COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1  AND 15
           AND l_quantity BETWEEN 1  AND 11)
       OR (p_brand = 'Brand#14' AND p_size BETWEEN 5  AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): an OR-of-ANDs predicate
    spanning BOTH join sides. The planner test built into the shape:
    Catalyst must derive the single-side implications of the
    disjunction — part rows outside all three brand/size envelopes and
    lineitem rows outside the quantity hull are droppable BEFORE the
    join (constraint propagation over a disjunction), with the full
    cross-side predicate re-checked after. part carries no broadcast
    hint (it scales with SF; the estimator picks broadcast at fixture
    scale); at 100 TB the derived lineitem filter is what keeps the
    probe side scan-bound instead of join-bound."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#3") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#14") & s.between(5, 25) & q.between(10, 20))
        | ((b == "Brand#25") & s.between(20, 50) & q.between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(_revenue(), F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "q_small_qty_parts",
    group="Q",
    oracle="""
    WITH bli AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = 'Brand#3'
    ),
    pq AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
             COUNT(*) AS cnt
      FROM bli GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(b.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS small_qty_revenue,
           COUNT(*) AS n_items
    FROM bli b JOIN pq ON b.l_partkey = pq.l_partkey
    WHERE 5 * CAST(b.l_quantity AS DECIMAL(18,2)) * cnt < sq
    """,
)
def q_small_qty_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity revenue): revenue from line items
    whose quantity is below 20% of their part's average — the classic
    correlated-aggregate query, decorrelated into aggregate-join-
    aggregate. The threshold compare is EXACT integer arithmetic:
    ``qty < 0.2 * avg`` rewritten as ``5·qty·cnt < sum`` over decimals,
    so no double average can flip a boundary row between engines.

    Plan: the brand's ~80 parts join into lineitem ONCE; the per-part
    sums join back into the same filtered fact — the fact table is
    scanned once. Neither side is hint-broadcast (both scale with the
    part count): at fixture scale the estimator broadcasts both and
    the fact never shuffles; at 100 TB the per-part aggregate is
    map-side-combined to |parts| rows and the joins degrade to
    co-partitioned SMJ rather than forcing a multi-TB build side."""
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    bli = (
        table(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    pq = bli.groupBy("l_partkey").agg(
        F.sum(dec2("l_quantity")).alias("sq"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        bli.join(pq.withColumnRenamed("l_partkey", "pk"),
                 F.col("l_partkey") == F.col("pk"))
        .filter(F.lit(5) * dec2("l_quantity") * F.col("cnt") < F.col("sq"))
        .agg(dsum("l_extendedprice", "small_qty_revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "q_top_supplier",
    group="Q",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-07-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): one quarter's revenue per
    supplier, then the supplier(s) hitting the maximum — an
    aggregate-reused-twice query: the rev relation feeds BOTH the join
    and the scalar-subquery max, and Catalyst plans it once per use
    with the same partial-aggregate pipeline. The equality test runs on
    the EXACT decimal sums (never the double projection), so ties and
    the max itself are engine-independent. supplier is dim-sized and
    broadcast; the scalar max broadcasts as a one-row literal plan.
    At 100 TB only |suppliers| aggregate rows ever shuffle."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    one = F.lit(1).cast("decimal(18,2)")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(dec2("l_extendedprice") * (one - dec2("l_discount"))).alias("total_rev")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return spark.sql(
        """
        SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        FROM {s} JOIN {rev} ON s_suppkey = l_suppkey
        WHERE total_rev = (SELECT MAX(total_rev) FROM {rev2})
        """,
        s=s, rev=rev, rev2=rev,
    )


@register(
    "q_lapsed_customers",
    group="Q",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                                     AS DOUBLE) / COUNT(*)
                         FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): above-average-balance
    customers with NO recent orders, counted per nation — a scalar
    aggregate subquery AND a date-filtered NOT EXISTS in one query.
    The average is the exact-numerator pattern (decimal sum ÷ count,
    one double division), so the balance cut is engine-independent.

    Plan: the scalar avg is a one-row broadcast; the anti join's right
    side is orders PRE-FILTERED to the recent window (dim-sized here;
    at 100 TB a partition-pruned slice of a date-partitioned table
    — the scan never touches old years), then broadcast; customer is
    never shuffled at all. Q22's phone-prefix grouping has no fixture
    analog, so nation stands in."""
    c = table(spark, sf_dir, "customer")
    o_recent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp")
    )
    return spark.sql(
        """
        SELECT c_nationkey, COUNT(*) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        FROM {c} c
        WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                                         AS DOUBLE) / COUNT(*)
                             FROM {c2} WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM {o} o
                          WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_nationkey
        """,
        c=c, c2=c, o=o_recent,
    )


@register(
    "q_order_count_dist",
    group="Q",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed how many orders —
    the outer-join-then-double-aggregate pattern. The LEFT join keeps
    zero-order customers (the c_count=0 bucket exists only because the
    join is outer), the join-side predicate excludes urgent orders
    WITHOUT turning the join inner (a WHERE would), and the second
    aggregate collapses per-customer counts into a distribution whose
    cardinality is tiny regardless of scale.

    At 100 TB: one key shuffle for the join + first aggregate (AQE
    picks SMJ for the fact-fact pair), then the second aggregate moves
    only ~max-orders-per-customer distinct rows. Counts only — no
    float anywhere."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q_min_cost_supplier",
    group="Q",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey, p_brand,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_size <= 10
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY l_partkey ORDER BY cost, l_suppkey) AS rn
      FROM cost
    )
    SELECT l_partkey AS p_partkey, p_brand, s_name,
           CAST(cost AS DOUBLE) AS cost
    FROM ranked JOIN supplier ON s_suppkey = l_suppkey
    WHERE rn = 1
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for every (small) part, the cheapest supplier —
    the argmin-per-group-over-a-join pattern. The selective dim filter
    (p_size <= 10) joins into the fact scan BEFORE the aggregate, so
    the per-(part, supplier) cost rollup only ever sees qualifying
    parts; the argmin is a ROW_NUMBER over l_partkey (high-cardinality
    partition — no straggler key at any scale) with l_suppkey as the
    deterministic tie-break; the supplier name arrives at the end,
    after the data has shrunk to one row per part. part and supplier
    scale with SF so neither is hint-broadcast — the estimator
    broadcasts both at fixture scale and shuffles at 100 TB.

    Cost is an exact decimal sum cast to double only on output."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = table(spark, sf_dir, "supplier")
    cost = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey", "p_brand")
        .agg(F.sum(dec2("l_extendedprice")).alias("cost"))
    )
    w = Window.partitionBy("l_partkey").orderBy("cost", "l_suppkey")
    best = cost.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.join(s, best.l_suppkey == s.s_suppkey).select(
        F.col("l_partkey").alias("p_partkey"),
        "p_brand",
        "s_name",
        F.col("cost").cast("double").alias("cost"),
    )


@register(
    "q_important_parts",
    group="Q",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
      FROM lineitem
      GROUP BY 1
    ),
    tot AS (
      SELECT SUM(val) AS total, COUNT(*) AS nparts FROM pv
    )
    SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
    FROM pv, tot
    WHERE val * nparts > total
    """,
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds the all-parts
    average — a group-aggregate gated by a scalar aggregate of itself.
    The threshold is ABOVE-AVERAGE (val × nparts > total), which is
    scale-invariant (a fixed share-of-total multiplier would select
    everything at small SF and nothing at large) and exact: decimal
    sum times integer count against decimal total, no float division
    on the comparison path.

    Spark runs the rollup once: the per-part aggregate feeds both the
    1-row total (second partial aggregate over already-shrunk rows)
    and the filter via a broadcast cross join of that single row — no
    driver round-trip, no recomputation of the fact scan."""
    li = table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(dec2("l_extendedprice")).alias("val")
    )
    tot = pv.agg(
        F.sum("val").alias("total"), F.count(F.lit(1)).alias("nparts")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val") * F.col("nparts") > F.col("total"))
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
    )


@register(
    "q_priority_waiting",
    group="Q",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q_priority_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders that had at least
    one lineitem still shipping 60+ days after the order date — the
    correlated-EXISTS-then-aggregate pattern. The EXISTS is a LEFT
    SEMI join (each order emitted at most once however many lineitems
    qualify) whose extra non-equi condition rides on the equi key, so
    it stays a hash/sort-merge join on l_orderkey — never a loop. The
    final aggregate is 5 rows.

    Date arithmetic is timestamp + literal interval on both engines;
    counts only, no float."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    waited = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return waited.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q_market_share",
    group="Q",
    oracle="""
    WITH sales AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             sn.n_name AS supp_nation,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'ASIA'
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             AS nation_rev,
           CAST(SUM(rev) AS DOUBLE) AS market_rev,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 4) AS share
    FROM sales
    GROUP BY yr
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a regional
    market, per year — the conditional-aggregate-over-a-star pattern.
    Numerator and denominator come out of ONE pass (a CASE inside the
    sum, not two scans); the O(1) dims (nation×2, region) pre-shrink
    and HINT-broadcast into the fact-fact join, while supplier —
    SF-scaling — is left to the estimator (broadcast at fixture
    scale, shuffle at 100 TB); revenue stays exact decimal until the final
    share division, which both engines round identically.

    The year grouping keys the output at ~7 rows however large the
    fact tables grow."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = table(spark, sf_dir, "supplier")
    cn = n.alias("cn")
    sn = n.alias("sn")
    one = F.lit(1).cast("decimal(18,2)")
    rev = (dec2("l_extendedprice") * (one - dec2("l_discount"))).alias("rev")
    sales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(r), F.col("cn.n_regionkey") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn.n_nationkey"))
        .select(
            F.year(o.o_orderdate).cast("bigint").alias("yr"),
            F.col("sn.n_name").alias("supp_nation"),
            rev,
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    nat = F.sum(
        F.when(F.col("supp_nation") == "NATION_7", F.col("rev")).otherwise(zero)
    )
    tot = F.sum("rev")
    return sales.groupBy("yr").agg(
        nat.cast("double").alias("nation_rev"),
        tot.cast("double").alias("market_rev"),
        F.round(nat.cast("double") / tot.cast("double"), 4).alias("share"),
    )


@register(
    "q_yearly_growth",
    group="Q",
    oracle="""
    WITH y AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(rev - LAG(rev) OVER (ORDER BY yr) AS DOUBLE)
                 / CAST(LAG(rev) OVER (ORDER BY yr) AS DOUBLE), 4)
             AS yoy_growth
    FROM y
    """,
)
def q_yearly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth — the window-AFTER-aggregate
    shape: the fact table collapses to one row per year FIRST, then
    LAG runs over that handful of rows. The unpartitioned window that
    would be a scale-killer on raw data is harmless here because its
    input is the aggregate's output (bounded by the calendar), and
    Catalyst plans it as a single-partition exchange of ~7 rows.
    Revenue stays exact decimal; only the growth ratio is float,
    rounded identically on both engines. First year's growth is NULL
    by definition on both."""
    o = table(spark, sf_dir, "orders")
    y = o.groupBy(F.year("o_orderdate").cast("bigint").alias("yr")).agg(
        F.sum(dec2("o_totalprice")).alias("rev")
    )
    w = Window.orderBy("yr")
    prev = F.lag("rev").over(w)
    return y.select(
        "yr",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            (F.col("rev") - prev).cast("double") / prev.cast("double"), 4
        ).alias("yoy_growth"),
    )


@register(
    "q_parts_supplier_count",
    group="Q",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_type <> 'MEDIUM'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers ship each surviving (brand, type, size) bucket, after
    excluding a denylist of suppliers — the NOT-IN-then-COUNT-DISTINCT
    pattern. The reference fixtures carry no partsupp table, so
    lineitem IS the part↔supplier bridge (same shape, bigger fact).

    The NOT IN compiles to a LEFT ANTI hash join against the denylist
    (supplier-derived, so SF-scaling — unhinted; the estimator
    broadcasts it at fixture scale) — legal precisely because s_suppkey is
    non-nullable; a nullable denylist would need NULL-aware anti join
    (Spark plans BroadcastNestedLoop for that, a scale trap worth
    designing out of the schema). COUNT(DISTINCT) expands to the
    two-shuffle partial-distinct plan: first shuffle on the full
    (brand, type, size, suppkey) key de-duplicates map-side, the
    second re-aggregates per group — at 100 TB the heavy first
    exchange carries only the deduplicated key space, not raw rows."""
    sup_deny = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    li = table(spark, sf_dir, "lineitem").join(
        sup_deny,
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_anti",
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_suppliers_kept_waiting",
    group="Q",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 105 DAY
      AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 105 DAY
      )
    GROUP BY s_name
    """,
)
def q_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): on
    finished orders, count the late lineitems whose supplier was the
    ONLY late supplier on a multi-supplier order — the
    EXISTS + NOT-EXISTS pair over the same fact table. Lateness is
    re-expressed against the fixtures' columns (shipped >105 days
    after order date; there is no commit/receipt date).

    Both subqueries correlate on l_orderkey with a <>-condition on
    suppkey, so Catalyst plans them as LEFT SEMI and LEFT ANTI
    hash joins keyed on l_orderkey, the non-equi suppkey test riding
    along as a join residual — per-order fan-out is lineitems per
    order (bounded ~7), never a loop. Three passes over lineitem
    total; all three shuffle on l_orderkey, so at 100 TB AQE reuses
    one exchange for the self-joins. The supplier name lookup lands at
    the end, after the fact rows have been decimated — unhinted
    (supplier scales with SF), estimator-broadcast at fixture scale."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = table(spark, sf_dir, "lineitem")
    late1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 105 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    has_other = late1.join(
        l2,
        (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    late3 = late1.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    only_late = has_other.join(
        late3,
        (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        only_late.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q_forecast_revenue",
    group="Q",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-filter-sum
    query — how much revenue would appear if mid-range discounts on
    small-quantity lines were eliminated for one year.

    This is the query that exists to prove the scan path is right: no
    join, no groupBy, one global aggregate. All four predicates are
    parquet-pushable (min/max row-group pruning on l_shipdate; the
    discount/quantity tests evaluate in the vectorized reader), the
    projection reaches the scan as a 4-column ReadSchema, and the
    aggregate is a partial-per-partition + single final row — the whole
    plan is one WholeStageCodegen span with a 1-row shuffle. At 100 TB
    with date-partitioned data the shipdate range also prunes
    partitions before any task launches. Money math uses the exact
    DECIMAL(18,2) pattern (exprs.py); the double literals 0.05/0.07
    parse to identical IEEE doubles in both engines, so the BETWEEN
    keeps the same rows."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec2("l_extendedprice") * dec2("l_discount"))
            .cast("double")
            .alias("revenue_delta")
        )
    )


@register(
    "q_late_lines_by_status",
    group="Q",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q_late_lines_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority): among lines
    shipped late in one year, how many belonged to critical-priority
    orders vs everything else, split by a line attribute. Re-expressed
    against the fixtures' columns: the grouping attribute is
    l_linestatus (there is no l_shipmode) and "late" is shipped >90
    days after the order date (there are no commit/receipt dates) —
    same shape as q_priority_waiting's lateness, but Q12's signature is
    the dual conditional-count pivot, not the EXISTS.

    Plan: the only shuffle is the fact-fact join on the order key (the
    date filter decimates lineitem first and pushes to the scan); the
    priority CASE folds into the partial aggregate, so the final
    groupBy moves 2 groups x 2 counters per map task. At 100 TB both
    sides bucket/co-partition on orderkey and the join is
    shuffle-free."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q_excess_shippers",
    group="Q",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                       AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                      THEN CAST(l_quantity AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS qty_year,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_total
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'small%'
      GROUP BY l_suppkey, l_partkey
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM shipped
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      AND qty_year * 2 > qty_total
    """,
)
def q_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers in a set
    of nations who moved more than half of their all-time volume of a
    part family inside one year — the nested aggregate-subquery
    pattern (Q20's ps_availqty > 0.5 * sum(l_quantity) test).
    Re-expressed against the fixtures: there is no partsupp table, so
    "available quantity" becomes the supplier's all-time shipped
    quantity of that part and the threshold compares the one-year
    slice against it — the same aggregate-vs-aggregate correlated
    shape, with the correlation collapsed into ONE grouped pass
    (conditional sum for the year slice alongside the total) instead
    of a self-join of two aggregations.

    Plan: part is pre-filtered on the name family and joined into
    lineitem; one shuffle on (suppkey, partkey) computes both sums;
    the half-volume test is exact decimal-integer arithmetic
    (qty*2 > total, never a float fraction — the q_important_parts
    rule); supplier ⋈ nation (nation hint-broadcast; the join result
    supplier-sized, hence unhinted) lands on the surviving handful of
    keys. DISTINCT dedups suppliers who qualify via several parts.
    At 100 TB the single grouped pass is the win: the textbook
    two-subquery formulation scans lineitem twice and joins the
    aggregates; this reads it once."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select(
        "p_partkey"
    )
    li = table(spark, sf_dir, "lineitem")
    in_year = (
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    shipped = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_year, dec2("l_quantity")).otherwise(zero)).alias("qty_year"),
            F.sum(dec2("l_quantity")).alias("qty_total"),
        )
        .filter(F.col("qty_year") * 2 > F.col("qty_total"))
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
    )
    return (
        shipped.join(
            s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey),
            shipped.l_suppkey == s.s_suppkey,
        )
        .select("s_suppkey", "s_name")
        .distinct()
    )


@register(
    "q_corpus_pipeline",
    group="Q",
    oracle="""
    WITH gated AS (
      SELECT doc_id, lang, text FROM documents
      WHERE n_chars BETWEEN 100 AND 500
        AND len(string_split(text,' ')) >= 3
        AND CAST(len(list_transform(generate_series(1, len(string_split(text,' '))-2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2]))
               - len(list_distinct(list_transform(
                     generate_series(1, len(string_split(text,' '))-2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2]))) AS DOUBLE)
            / (len(string_split(text,' ')) - 2) < 0.1
    ),
    toks AS (SELECT row_number() OVER () AS rid, doc_id, lang,
                    string_split(text, ' ') AS t FROM gated),
    pos AS (SELECT rid, doc_id, lang, unnest(t) AS w,
                   generate_subscripts(t, 1) AS i FROM toks),
    segs AS (SELECT rid, doc_id, lang, (i-1)//8 AS chunk,
                    string_agg(w, ' ' ORDER BY i) AS seg
             FROM pos GROUP BY rid, doc_id, lang, (i-1)//8),
    bp AS (SELECT md5(seg) AS h FROM segs
           GROUP BY md5(seg) HAVING COUNT(DISTINCT doc_id) >= 2),
    cleaned AS (
      SELECT doc_id, lang,
             COALESCE(string_agg(CASE WHEN bp.h IS NULL THEN seg END,
                                 ' ' ORDER BY chunk), '') AS clean_text
      FROM segs LEFT JOIN bp ON md5(segs.seg) = bp.h
      GROUP BY rid, doc_id, lang
    ),
    deduped AS (
      SELECT MIN(doc_id) AS keep_id, lang, clean_text
      FROM cleaned WHERE clean_text <> ''
      GROUP BY lang, clean_text
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs_kept,
           CAST(SUM(len(string_split(clean_text, ' '))) AS BIGINT)
             AS tokens_kept
    FROM deduped GROUP BY lang
    """,
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation DAG in ONE Spark plan — the query a training
    team actually ships: (1) quality gate (length window + Gopher
    repetition rule, pure HOFs, no shuffle), (2) corpus-voted
    boilerplate removal (the dedup_segments pass: the vote shuffles
    md5 digests only), (3) exact dedup of the CLEANED text (two docs
    that differ only by boilerplate collapse here — which is why the
    stage order matters and the stages cannot be run as independent
    jobs over the raw corpus), (4) per-language accounting of what
    survived. Four LLM-pipeline ops composed end-to-end, checked as
    one hash.

    Scale shape: the narrow gate runs at scan bandwidth and decimates
    first; every later shuffle (segment vote, reassembly, dedup,
    stats) moves only survivors; text crosses the wire exactly twice
    (reassembly, dedup) — the floor for a pipeline whose OUTPUT is
    rewritten text. The trigram gate is built INDEX-FREE (zip_with
    over shifted slices, see text_repetition): Catalyst pushes the
    gate's filter all the way into the parquet scan, substituting the
    token alias into the condition — with an indexed transform that
    re-runs split(text) per element (O(tokens^2), measured 13s for
    this pipeline); with zip_with each slice evaluates once per row,
    so the aggressive pushdown is the BENEFIT it should be."""
    d = table(spark, sf_dir, "documents")
    # Per-row identity tag: under at-least-once delivery each copy is
    # cleaned independently (same contract as dedup_segments) and the
    # exact-dedup stage then collapses the byte-identical results —
    # never a cross-copy merge inside the segment reassembly.
    toks = d.select(
        "doc_id", "lang", "n_chars",
        F.monotonically_increasing_id().alias("rid"),
        F.split("text", " ").alias("t"),
    )
    with_tri = toks.withColumn("tri", word_trigrams("t", 0))
    gated = with_tri.filter(
        (F.col("n_chars").between(100, 500))
        & (F.size("t") >= 3)
        & (
            (F.size("tri") - F.size(F.array_distinct("tri"))).cast("double")
            / (F.size("t") - 2)
            < 0.1
        )
    ).select("rid", "doc_id", "lang", "t")
    segs = (
        gated.select(
            "rid",
            "doc_id",
            "lang",
            F.expr(
                "posexplode(transform(sequence(0, cast(ceil(size(t) / 8.0) as int) - 1),"
                " i -> array_join(slice(t, i*8 + 1, 8), ' ')))"
            ).alias("chunk", "seg"),
        )
        .withColumn("h", F.md5("seg"))
        # Materialization barrier (the r6 pattern): segs feeds BOTH the
        # boilerplate vote and the join-back — without it the scan +
        # trigram gate + segment explode execute once per branch (two
        # Scan nodes in the r10 before-plan; 2.20s -> 1.48s at sf0.1).
        # The checkpoint holds survivors only (the gate decimates
        # first), so the materialized bytes are the decimated corpus,
        # not the input. It also pins monotonically_increasing_id's
        # rid to ONE evaluation, removing a latent cross-branch
        # nondeterminism.
        .localCheckpoint(eager=False)
    )
    bp = (
        segs.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("h", F.lit(1).alias("is_bp"))
    )
    cleaned = (
        segs.join(bp, "h", "left")
        .groupBy("rid", "doc_id", "lang")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_bp").isNull(),
                                F.struct(F.col("chunk"), F.col("seg")),
                            )
                        )
                    ),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text")
        )
    )
    deduped = (
        cleaned.filter(F.col("clean_text") != "")
        .groupBy("lang", "clean_text")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_kept"),
        F.sum(F.size(F.split("clean_text", " "))).cast("bigint").alias("tokens_kept"),
    )


@register(
    "q_cohort_retention",
    group="Q",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    cohorts AS (
      SELECT user_id, event_type AS cohort, date_trunc('week', ts) AS w0
      FROM ranked WHERE rn = 1
    ),
    activity AS (
      SELECT e.user_id, c.cohort,
             CAST(date_diff('day', CAST(c.w0 AS DATE),
                            CAST(date_trunc('week', e.ts) AS DATE)) // 7
                  AS BIGINT) AS week_no
      FROM events e JOIN cohorts c ON e.user_id = c.user_id
    )
    SELECT cohort, week_no,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
    FROM activity GROUP BY cohort, week_no
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — users grouped by their FIRST event's
    type (the acquisition-channel analog in this schema), tracked by
    weeks-since-first-week activity: the table behind every retention
    dashboard, and a composite of three primitives this engine ships
    (first-row-per-key window, self-join on the key, distinct-count
    aggregate).

    Week arithmetic is deliberately day-diff DIV 7 over week-TRUNCATED
    dates on BOTH engines — DuckDB's date_diff('week', ...) counts
    Monday crossings, which is the same number here but a different
    function contract; using one shared integer formula removes the
    cross-engine semantic risk entirely. All shuffles key on user_id
    (the window, the join) so AQE co-partitions the chain; the final
    matrix is cohorts x weeks — tiny at any scale."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cohorts = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("cohort"),
            F.date_trunc("week", "ts").alias("w0"),
        )
    )
    activity = e.join(cohorts, "user_id").select(
        "user_id",
        "cohort",
        F.expr(
            "CAST(datediff(CAST(date_trunc('week', ts) AS DATE),"
            " CAST(w0 AS DATE)) DIV 7 AS BIGINT)"
        ).alias("week_no"),
    )
    return activity.groupBy("cohort", "week_no").agg(
        F.countDistinct("user_id").cast("bigint").alias("active_users")
    )
