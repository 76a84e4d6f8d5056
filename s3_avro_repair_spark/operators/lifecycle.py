"""C group — data-lifecycle / CDC operators.

A 100 TB lakehouse is not just queried, it is *maintained*: change
capture merged into base tables, dimension history tracked, duplicate
clusters collapsed to canonical rows, reproducible samples drawn for
train/eval splits. The reference's pipeline only ever rewrites whole
objects in place (`/root/reference/src/services/repair-avro.ts:118-124`
— download, repair, re-upload); these operators are the incremental
counterparts a Spark-native engine gets from relational composition.

Every op here is hash-checked against a DuckDB oracle — including the
iterative connected-components clustering, whose oracle is a recursive
CTE transitive closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import both_ways, dec2
from ..plans.registry import register
from ..tables import table
from .graph import sim_edges


@register(
    "merge_upsert",
    group="C",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey, 'U' AS status, o_totalprice + 10.0 AS price
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT o_orderkey + 30000000 AS o_orderkey, 'N' AS status, 1.0 AS price
      FROM orders WHERE o_orderkey % 1000 = 0
    )
    SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(c.status, b.o_orderstatus) AS status,
           COALESCE(c.price, b.o_totalprice) AS price
    FROM orders b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (upsert): a deterministic changeset — updates for every
    100th order, inserts above the key space — merged into the base
    table. Spark has no MERGE INTO on plain parquet, but the relational
    core expresses it exactly: FULL OUTER join on the key, change side
    wins via COALESCE.

    100 TB posture: Spark cannot broadcast a FULL OUTER side (the hint
    is ignored — the plan below is a co-partitioned SortMergeJoin on
    the key, one shuffle each side). The at-scale cure is not a bigger
    join but a smaller base: restrict the merge to the partitions the
    changeset touches (dynamic partition pruning on the change keys)
    and rewrite only those — the same atomic-swap idea as the
    reference's repair re-upload (repair-avro.ts:118-124) at partition
    rather than object grain."""
    o = table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.lit("U").alias("status"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("price"),
    )
    inserts = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + F.lit(30000000)).alias("o_orderkey"),
        F.lit("N").alias("status"),
        F.lit(1.0).alias("price"),
    )
    changes = updates.unionByName(inserts)
    base = o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("b_status"),
        F.col("o_totalprice").alias("b_price"),
    )
    merged = base.join(
        changes.withColumnRenamed("o_orderkey", "c_orderkey"),
        base.o_orderkey == F.col("c_orderkey"),
        "full_outer",
    )
    return merged.select(
        F.coalesce(F.col("c_orderkey"), F.col("o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("status"), F.col("b_status")).alias("status"),
        F.coalesce(F.col("price"), F.col("b_price")).alias("price"),
    )


@register(
    "scd2_intervals",
    group="C",
    oracle="""
    SELECT user_id, event_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS valid_from_us,
           LEAD(epoch_us(CAST(ts AS TIMESTAMP)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
    FROM events
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change event stream into
    validity intervals — each state valid from its own timestamp until
    the user's next event (open-ended NULL for the current state). One
    window, one shuffle on user_id; this is how a dimension's history
    table is built incrementally from CDC feeds.

    At 100 TB the stream is date-partitioned: only the trailing
    partition's open intervals need re-closing when new events land —
    everything older is immutable."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    from_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        from_us.alias("valid_from_us"),
        F.lead(from_us).over(w).alias("valid_to_us"),
    )


@register(
    "sample_hash_det",
    group="C",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                     || CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'
    """,
)
def sample_hash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 sample by content hash — the reproducible
    alternative to seeded RNG sampling (scan_sample): the same row keys
    land in the sample on every engine, every run, every cluster size.
    That reproducibility is what train/test splits and A/B holdouts
    need; RNG samples shift whenever partitioning changes. Pure
    narrow filter — no shuffle, fully pushdown-friendly (md5 is
    whole-stage-codegen JVM)."""
    li = table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    return li.filter(F.substring(F.md5(key), 1, 1) == "0").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "dedup_clusters",
    group="C",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND b.vec_id > a.vec_id
       AND b.vec_id - a.vec_id <= 50
      , LATERAL (
          SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                 SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
                 SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb
          FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y)
        ) d
      WHERE d.dot / (SQRT(d.na) * SQRT(d.nb)) >= 0.35
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS vec_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS, not just pairs: connected components
    over the cosine-similarity graph (same blocked candidate bound as
    dedup_embedding_cosine), each node labeled with the minimum vec_id
    reachable from it. Pairs alone aren't actionable for dedup — you
    keep one canonical doc PER CLUSTER, and transitively-linked
    near-dups (A~B, B~C, A!~C) must collapse together.

    Spark plan: Pregel-style min-label propagation — each round joins
    labels to the edge list, takes the min over (self, neighbors), and
    ``localCheckpoint``s to truncate lineage. Rounds = graph diameter;
    each round is one shuffle on node id. The convergence probe is a
    scalar aggregate (labels are monotonically non-increasing, so an
    unchanged sum IS the fixpoint) — no data ever collects to the
    driver. At 100 TB you'd switch to the large-star/small-star
    alternation (Kiveris et al., "Connected Components in MapReduce"),
    which converges in O(log n) rounds instead of O(diameter); the
    per-round dataflow shape is identical to this one.

    The oracle is a recursive-CTE transitive closure — DuckDB walks the
    whole reachability relation, Spark iterates; both must agree
    exactly on every cluster label."""
    return _cluster_labels(spark, sf_dir)


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared kernel of dedup_clusters / dedup_canonical: (vec_id,
    cluster_id) for every node of the cosine-similarity graph."""
    edges = both_ways(sim_edges(spark, sf_dir, 0.35)).localCheckpoint(
        eager=True  # pair gen runs once, not per round
    )
    labels = (
        edges.select(F.col("src").alias("vec_id"))
        .distinct()
        .withColumn("cluster_id", F.col("vec_id"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for _ in range(20):  # >= graph diameter at any fixture scale
        neighbor = edges.join(
            labels, edges.dst == labels.vec_id
        ).select(F.col("src").alias("vec_id"), "cluster_id")
        # The convergence probe rides the checkpoint's own job as an
        # observed metric (CollectMetrics fires under eager
        # localCheckpoint) — the r9 shape paid a second job per round
        # just to read the sum back (r10).
        obs = Observation()
        labels = (
            labels.unionByName(neighbor)
            .groupBy("vec_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .observe(obs, F.sum("cluster_id").alias("s"))
            .localCheckpoint(eager=True)
        )
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError("dedup_clusters: min-label propagation did not converge")
    return labels


@register(
    "join_range_bucketed",
    group="J",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS attributed_id
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type <> 'purchase'
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via TIME BUCKETING: attribute every event that falls
    inside the 1-hour window after a purchase by the same user.
    join_interval leans on a high-cardinality equi key and keeps the
    range as a residual; when the equi key is skewed or low-cardinality
    (a bot user with millions of events), that residual degenerates to
    per-key cross-products. The bucketed plan adds time locality to
    the join key itself: both sides are keyed on (user, hour-bucket) —
    the interval side exploded to the (at most 2) buckets it overlaps,
    the point side hashed to exactly 1 — so a hot user's rows spread
    over its active time range instead of one reducer. Each qualifying
    (purchase, event) pair meets in exactly the event's bucket, so no
    post-join dedup is needed; the exact range predicate is re-applied
    as a residual. This is the standard scale pattern for
    point-in-interval joins (engine-side range-join optimizations do
    the same binning internally)."""
    hour_us = 3600 * 1000 * 1000
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts_us").alias("start_us"),
            (F.col("ts_us") + F.lit(hour_us)).alias("end_us"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.expr(f"start_us DIV {hour_us}"),
                        F.expr(f"(end_us - 1) DIV {hour_us}"),
                    )
                )
            ),
        )
    )
    c = ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("attributed_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts_us").alias("c_ts"),
        F.expr(f"ts_us DIV {hour_us}").alias("bucket"),
    )
    return (
        p.join(
            c,
            (p.p_user == c.c_user)
            & (p.bucket == c.bucket)
            & (c.c_ts >= p.start_us)
            & (c.c_ts < p.end_us),
        )
        .select("purchase_id", "attributed_id")
    )


_CLUSTER_CTE = """
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND b.vec_id > a.vec_id
       AND b.vec_id - a.vec_id <= 50
      , LATERAL (
          SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                 SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
                 SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb
          FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y)
        ) d
      WHERE d.dot / (SQRT(d.na) * SQRT(d.nb)) >= 0.35
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
      SELECT src AS vec_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
"""


@register(
    "dedup_canonical",
    group="C",
    oracle=_CLUSTER_CTE
    + """
    SELECT e.vec_id, e.label FROM embeddings e
    ANTI JOIN (SELECT vec_id FROM labels WHERE cluster_id <> vec_id) dupes
      ON e.vec_id = dupes.vec_id
    """,
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELIVERABLE of near-dup detection: the deduplicated corpus.
    Every similarity cluster keeps exactly its canonical member (the
    minimum id — dedup_clusters' label), all other members are dropped
    via a LEFT ANTI join of the corpus against non-canonical cluster
    rows. Singletons pass through untouched (they never enter the
    graph). The duplicate-id list is usually orders smaller than the
    corpus but has NO bound — a 90%-duplicate crawl makes it
    0.9x corpus — so the anti join is unhinted (r7): the estimator
    broadcasts it at fixture scale (corpus scan stays shuffle-free)
    and degrades to a shuffle anti join on a duplicate pile instead
    of OOMing the driver. This is the op a training-data pipeline
    actually runs; clusters/pairs are its diagnostics."""
    labels = _cluster_labels(spark, sf_dir)
    dupes = labels.filter(F.col("cluster_id") != F.col("vec_id")).select("vec_id")
    e = table(spark, sf_dir, "embeddings")
    return e.join(dupes, "vec_id", "left_anti").select(
        "vec_id", "label"
    )


@register(
    "dedup_clusters_bigstar",
    group="C",
    oracle=_CLUSTER_CTE
    + """
    SELECT vec_id, cluster_id FROM labels
    """,
)
def dedup_clusters_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via LARGE-STAR / SMALL-STAR alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round algorithm dedup_clusters' docstring names as the
    100 TB path, implemented here against the SAME recursive-CTE oracle
    so both strategies must produce identical cluster labels.

    Each round is two groupBy shuffles on node id:
      large-star: every node attaches its STRICTLY-LARGER neighbors to
        its minimum neighborhood member (tree edges shrink heights);
      small-star: every node attaches its smaller-or-equal neighbors
        (and itself) to that minimum (flattens into stars).
    The edge set contracts toward a star per component whose center is
    the component minimum; rounds needed grow with log(diameter), not
    diameter — the property that matters when components are long
    chains (crawl mirrors, boilerplate families). Convergence probe is
    a 3-scalar aggregate (count + endpoint sums), never a collect."""
    pairs = sim_edges(spark, sf_dir, 0.35)  # _cluster_labels' pairs

    def bidir(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .union(df.select(F.col("b").alias("src"), F.col("a").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    nodes = (
        pairs.select(F.col("id_a").alias("vec_id"))
        .union(pairs.select(F.col("id_b").alias("vec_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = bidir(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    ).localCheckpoint(eager=True)

    def star(adj: DataFrame, large: bool) -> DataFrame:
        mins = adj.groupBy("src").agg(F.min("dst").alias("mn"))
        mins = mins.select(
            "src", F.least(F.col("src"), F.col("mn")).alias("m")
        )
        joined = adj.join(mins, "src")
        if large:
            out = joined.filter(F.col("dst") > F.col("src")).select(
                F.col("dst").alias("a"), F.col("m").alias("b")
            )
        else:
            out = joined.filter(F.col("dst") <= F.col("src")).select(
                F.col("dst").alias("a"), F.col("m").alias("b")
            ).union(joined.select(F.col("src").alias("a"), F.col("m").alias("b")))
        return bidir(out)

    prev_sig = None
    for _ in range(12):
        # Convergence signature observed on the checkpoint job itself
        # (no second read-back job per round — r10, same as
        # _cluster_labels).
        obs = Observation()
        edges = (
            star(star(edges, large=True), large=False)
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("src").alias("ss"),
                F.sum("dst").alias("sd"),
            )
            .localCheckpoint(eager=True)
        )
        got = obs.get
        sig = (got["n"], got["ss"], got["sd"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError("dedup_clusters_bigstar: did not converge")
    # star fixpoint: every non-center node has a direct edge to its
    # component minimum; centers label themselves
    neighbor_min = edges.groupBy("src").agg(F.min("dst").alias("mn"))
    return nodes.join(
        neighbor_min, nodes.vec_id == neighbor_min.src, "left"
    ).select(
        "vec_id",
        F.least(F.col("vec_id"), F.coalesce(F.col("mn"), F.col("vec_id"))).alias(
            "cluster_id"
        ),
    )


@register(
    "merge_intervals",
    group="C",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS e
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN s > MAX(e) OVER (
               PARTITION BY user_id ORDER BY s, e, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e, event_id
               ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           MIN(s) AS start_us, MAX(e) AS end_us, COUNT(*) AS n_events
    FROM islands GROUP BY user_id, island
    """,
)
def merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing: each event opens a 30-minute activity
    interval; overlapping/touching intervals per user merge into
    maximal covering windows (downtime stitching, session coverage,
    on-call dedup — the complement of scd2_intervals, which SPLITS
    time). Classic gaps-and-islands: an interval starts a new island
    iff its start exceeds the running max end of everything before it;
    the island id is the running count of such starts.

    Two window passes and the final aggregate all share one shuffle on
    user_id (same partitioning, Catalyst reuses the exchange). Ties on
    identical timestamps are ordered by event_id so both engines walk
    the same sequence. At 100 TB this is the same single-key-shuffle
    class as window_sessionize; per-user streams are bounded by
    retention, not corpus size."""
    e = table(spark, sf_dir, "events")
    s_us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = e.select(
        "user_id",
        "event_id",
        s_us.alias("s"),
        (s_us + F.lit(1800000000)).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(F.col("s") > F.max("e").over(w_prev), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    # event_id tiebreak on BOTH windows (and both engines): two events
    # at one timestamp straddling an island boundary must land in the
    # same island regardless of engine tie order.
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island").over(w_run).cast("bigint").alias("island"),
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("s").alias("start_us"),
        F.max("e").alias("end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "snapshot_diff",
    group="C",
    oracle="""
    WITH newsnap AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            * CAST(1.10 AS DECIMAL(18,2)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 40000000 AS o_orderkey, 5.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           o.o_totalprice AS old_price,
           n.o_totalprice AS new_price
    FROM orders o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot change detection — merge_upsert's inverse:
    given yesterday's and today's versions of a table, emit WHAT
    changed (added / removed / changed rows with both values), the diff
    a CDC audit or incremental-sync job starts from. The new snapshot
    is derived deterministically (every 13th key deleted, every 7th
    repriced by an exact decimal ×1.10, inserts above the key space),
    so both engines diff identical inputs.

    One co-partitioned FULL OUTER SortMergeJoin on the key (broadcast
    is impossible for full outer — see merge_upsert), then a narrow
    classify-and-filter; unchanged rows (the overwhelming majority at
    scale) are discarded before anything else touches them. At 100 TB
    the refinement is partition-level pruning: diff only partitions
    whose content hash differs, the avro_stats fingerprint pass."""
    o = table(spark, sf_dir, "orders")
    one_ten = F.lit(1.10).cast("decimal(18,2)")
    survivors = o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            (dec2("o_totalprice") * one_ten).cast("double"),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    inserts = o.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + F.lit(40000000)).alias("o_orderkey"),
        F.lit(5.0).alias("o_totalprice"),
    )
    new = survivors.unionByName(inserts)
    old = o.select(
        F.col("o_orderkey").alias("b_key"),
        F.col("o_totalprice").alias("old_price"),
    )
    d = old.join(
        new.withColumnRenamed("o_orderkey", "n_key").withColumnRenamed(
            "o_totalprice", "new_price"
        ),
        F.col("b_key") == F.col("n_key"),
        "full_outer",
    )
    return d.filter(
        F.col("b_key").isNull()
        | F.col("n_key").isNull()
        | (F.col("old_price") != F.col("new_price"))
    ).select(
        F.coalesce(F.col("n_key"), F.col("b_key")).alias("o_orderkey"),
        F.when(F.col("b_key").isNull(), "added")
        .when(F.col("n_key").isNull(), "removed")
        .otherwise("changed")
        .alias("change_type"),
        "old_price",
        "new_price",
    )
