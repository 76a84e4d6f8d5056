"""X group (continued) — additional scale-pattern operators:
embedding-space dedup, skew-salted join, exact percentiles, token
entropy, and an IVF-style ANN path. Each exists because the pattern it
demonstrates is load-bearing at 100 TB (salting, bucketed ANN,
single-pass order statistics), not to pad the registry — every op has
either an exact SQL oracle or a numpy cross-check in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import cosine, norm
from ..plans.registry import register
from ..session import spread_partitions
from ..tables import table
from .quantiles import exact_quantiles


@register(
    "dedup_embedding_cosine",
    group="X",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS ea, b.embedding AS eb
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND b.vec_id > a.vec_id
       AND b.vec_id - a.vec_id <= 50
    ),
    tagged AS (SELECT row_number() OVER () AS pid, * FROM pairs),
    un AS (SELECT pid, id_a, id_b, unnest(ea) AS x, unnest(eb) AS y
           FROM tagged),
    dots AS (
      -- per PAIR ROW (pid): duplicate vec_ids must not mix elements
      -- of different vectors into one dot (key-collision sweep)
      SELECT id_a, id_b,
             SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
             SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
             SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb
      FROM un GROUP BY pid, id_a, id_b
    )
    SELECT id_a, id_b,
           ROUND(dot / (SQRT(na) * SQRT(nb)), 4) AS cosine
    FROM dots WHERE dot / (SQRT(na) * SQRT(nb)) >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate detection: semantically-duplicate
    pairs are those whose cosine clears a threshold (0.35 — tuned to the synthetic embeddings' similarity range) — the semantic
    counterpart of token-level dedup (dedup_near / dedup_ngram_jaccard).
    Same blocked+banded candidate bound as sim_cosine_pairs (never
    all-pairs); threshold applied to the full-precision cosine, the
    rounded value only reported."""
    from .llm import banded_candidates

    return (
        banded_candidates(spark, sf_dir, band=50)
        .withColumn("cos", cosine())
        .filter(F.col("cos") >= 0.35)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
    )


@register(
    "join_salted",
    group="X",
    oracle="""
    SELECT o.o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join, result-identical to the plain equi-join.

    The hot-key cure when AQE skew-split isn't enough: the FACT side
    gets a deterministic salt (key-hash mod 8), the DIM side is
    replicated once per salt value (explode over a literal array —
    constant 8x on the SMALL side only), and the join key becomes
    (key, salt) so one hot customer's rows spread over 8 reducers
    instead of one. The oracle is the unsalted join — salting must be
    a pure physical rewrite with zero semantic drift."""
    o = table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.hash("o_orderkey"), F.lit(8))
    )
    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(8)])))
    )
    joined = o.join(
        c, (o.o_custkey == c.c_custkey) & (o.salt == c.salt)
    )
    return joined.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "agg_percentiles",
    group="X",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT continuous percentiles (p50/p90/p99) per group — the
    latency/size distribution primitive, computed sort-based via
    ``quantiles.exact_quantiles`` instead of Spark's ``percentile``
    aggregate. The built-in buffers every group value in an
    ObjectHashAggregate buffer that never spills when the group COUNT
    is small (the fallback triggers on key count, not buffer size);
    the 10x scaling census killed the JVM with a heap OOM on exactly
    this op's "3 tall groups" shape. The replacement compresses to
    (group, distinct value, count) map-side, then rank-interpolates
    over a spillable running-sum window — same answers, bit-identical
    interpolation, bounded memory at any scale. For 100 TB hot paths
    you'd still swap in ``percentile_approx`` (t-digest sketch,
    mergeable, one pass — see agg_approx_distinct for the same
    exact/approx trade)."""
    li = table(spark, sf_dir, "lineitem")
    qs = exact_quantiles(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [(q, f"p{int(q * 100)}") for q in (0.5, 0.9, 0.99)],
    )
    return qs.select(
        "l_returnflag",
        *[F.round(F.col(c), 4).alias(c) for c in ("p50", "p90", "p99")],
    )


@register(
    "text_entropy",
    group="X",
    oracle="""
    WITH tf AS (
      SELECT doc_id, w, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ) GROUP BY doc_id, w
    ),
    n AS (SELECT doc_id, SUM(c) AS n FROM tf GROUP BY doc_id)
    SELECT tf.doc_id,
           ROUND(-SUM((CAST(c AS DOUBLE) / n) * LN(CAST(c AS DOUBLE) / n)), 4)
             + 0 AS entropy
    FROM tf JOIN n ON tf.doc_id = n.doc_id
    GROUP BY tf.doc_id
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the classic
    gibberish/boilerplate detector (low entropy = repeated tokens,
    high = diverse vocabulary). Two aggregations, both keyed on
    doc_id, so the second groupBy reuses the first shuffle's
    partitioning — one exchange total."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    withn = tf.withColumn("n", F.sum("c").over(Window.partitionBy("doc_id")))
    p = F.col("c").cast("double") / F.col("n")
    return (
        withn.groupBy("doc_id")
        # + 0 normalizes IEEE signed zero: a single-token doc sums to
        # -0.0 on one engine and 0.0 on the other (-0.0 + 0.0 is +0.0
        # in IEEE 754 round-to-nearest; same fix as ts_zscore).
        .agg((F.round(-F.sum(p * F.log(p)), 4) + F.lit(0.0)).alias("entropy"))
    )


@register("sim_ann_ivf", group="X", oracle=None)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a KMeans coarse quantizer (fixed seed; cell count
    derived from corpus size so cells hold ~5000 members, floor k=10)
    assigns every corpus vector to ONE centroid cell; each query
    multi-probes its nprobe=3 nearest cells (ranked by exact distance
    to the broadcast centroid table), so the candidate set per query is
    ~nprobe x 5000 vectors — constant, not a corpus fraction and the scan never goes all-pairs — the
    inverted-file layout FAISS-style systems use, built from public
    pyspark.ml parts. Multi-probe is the standard IVF recall lever: at
    nprobe=1 a true neighbor just across a cell boundary is invisible
    (measured recall 0.20 at sf0.01); at nprobe=3 measured recall@5 vs
    brute force is 0.84 at both fixture SFs (sim_ann_ivf_recall pins
    >= 0.6 as the driver-checked contract). rows-only: k-means
    initialization is engine-internal randomness (seeded, stable
    within Spark)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    nprobe = 3
    e = (
        table(spark, sf_dir, "embeddings")
        # no vector (or a non-finite one KMeans cannot take a distance
        # to), no cell — NaN fails the < via three-valued logic
        .filter(F.col("embedding").isNotNull())
        .filter(
            F.expr("forall(embedding, x -> abs(x) < cast('infinity' as double))")
        )
        .select(
            "vec_id",
            "embedding",
            array_to_vector(F.col("embedding").cast("array<double>")).alias("vec"),
        )
    )
    # Cell count scales with the corpus (the IVF law): with FIXED k a
    # 100x corpus means 100x-bigger cells, and nprobe/k stays a fixed
    # FRACTION of the corpus — the r6 100x census measured the probe
    # join at 120M joined rows (8720x growth) from exactly this.
    # Cells pinned at ~5000 members keep per-query candidates
    # constant (nprobe x 5000) and the probe join linear in |q|.
    # The count is one columnar scan; KMeans.fit scans repeatedly
    # anyway. At the fixture SFs (n <= 5000) k stays 10, so attested
    # outputs are unchanged.
    n_corpus = e.count()
    k = max(10, min(1024, n_corpus // 5000))
    # One bounded driver probe (scan stops at k rows) covers BOTH
    # degenerate shapes: an empty corpus has an empty neighbor list,
    # and a corpus smaller than k crashes KMeans.fit outright
    # (ArrayIndexOutOfBounds in Spark 4.1) — below k vectors there is
    # nothing to quantize, so everything shares one cell and the
    # "IVF" is just the exact search it would degenerate to anyway.
    probe = e.take(k)
    if not probe:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, rank int, cosine double"
        )
    if len(probe) < k:
        cells = e.select("vec_id", "embedding", F.lit(0).alias("cell"))
        centroids = spark.createDataFrame(
            [(0, [0.0])], "cell int, cvec array<double>"
        )
        nprobe = 1
    else:
        km = KMeans(k=k, seed=42, featuresCol="vec", predictionCol="cell").fit(e)
        cells = km.transform(e).select("vec_id", "embedding", "cell")
        # k centroid vectors — a fixed-size driver-side model artifact
        # (k x dim floats), broadcast like any dimension table.
        centroids = spark.createDataFrame(
            [
                (int(i), [float(x) for x in c])
                for i, c in enumerate(km.clusterCenters())
            ],
            "cell int, cvec array<double>",
        )
    from .llm import query_panel

    q = query_panel(cells, spark, sf_dir).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("ea"),
        norm("embedding").alias("na"),
    )
    if nprobe == 1:
        qcells = q.withColumn("cell", F.lit(0))
    else:
        # Rank the k centroids per query by exact euclidean distance,
        # keep the nprobe nearest. The join is broadcast (k rows);
        # the window partitions by query, so no skew and no big sort.
        d2 = F.expr(
            "aggregate(zip_with(ea, cvec,"
            " (x, y) -> (cast(x AS double) - y) * (cast(x AS double) - y)),"
            " cast(0 AS double), (a, v) -> a + v)"
        )
        w_probe = Window.partitionBy("query_id").orderBy("d2", "cell")
        qcells = (
            q.join(F.broadcast(centroids))
            .withColumn("d2", d2)
            .withColumn("pr", F.row_number().over(w_probe))
            .filter(F.col("pr") <= nprobe)
            .select("query_id", "ea", "na", "cell")
        )
    cand = cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("eb"),
        "cell",
        norm("embedding").alias("nb"),
    ).transform(spread_partitions)  # no-op once the scan has >= cores partitions
    scored = (
        F.broadcast(qcells)
        .join(cand, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine())
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        # multi-probe can reach the same neighbor through one cell only
        # (cells partition the corpus), so no distinct needed
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cosine"))
    )


@register(
    "agg_pivot",
    group="X",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
             AS qty_F,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
             AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: rows -> columns on l_linestatus with an EXPLICIT value
    list. At scale the value list matters: without it Spark runs an
    extra distinct pass over the data to discover the columns — always
    pin the list when you know it. The oracle is the portable CASE
    formulation, which is exactly what Catalyst lowers pivot to."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .withColumnRenamed("F", "qty_F")
        .withColumnRenamed("O", "qty_O")
    )


@register(
    "fn_unpivot",
    group="X",
    oracle="""
    SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'key_mod1000' AS metric,
           CAST(o_orderkey % 1000 AS DOUBLE) AS value
    FROM orders
    """,
)
def fn_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: columns -> rows (``DataFrame.unpivot``, the
    inverse of agg_pivot). Narrow transformation — no shuffle at all;
    output is ids x measures."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % 1000).cast("double").alias("key_mod1000"),
    )
    return o.unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "key_mod1000"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "udtf_map_in_arrow",
    group="X",
    oracle="""
    SELECT l_orderkey, l_quantity * 2 AS double_qty
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def udtf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition transform at the RAW ARROW level (``mapInArrow``):
    no pandas conversion at all — RecordBatch in, RecordBatch out.
    This is the fastest Python boundary Spark offers (the pandas layer
    of mapInPandas costs a copy each way) and the right substrate for
    columnar libraries (pyarrow.compute, polars). Deterministic
    filter+project, so it hash-checks against SQL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = pa.schema(
        [("l_orderkey", pa.int64()), ("double_qty", pa.float64())]
    )

    def double_qty(batches):
        for batch in batches:
            t = pa.Table.from_batches([batch])
            t = t.filter(pc.equal(t["l_linenumber"], 1))
            out = pa.table(
                {
                    "l_orderkey": t["l_orderkey"],
                    "double_qty": pc.multiply(t["l_quantity"], 2.0),
                }
            # unlike the pandas boundary, mapInArrow does NOT coerce
            # the kernel's output to the declared schema — an int32
            # source generation crashes Spark's getLong reader unless
            # the kernel casts to what it declared
            ).cast(out_schema)
            for b in out.to_batches():
                yield b

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return li.mapInArrow(double_qty, schema="l_orderkey long, double_qty double")


@register(
    "embedding_quantize",
    group="X",
    oracle="""
    WITH t AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS scale
      FROM t
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           array_to_string(
             list_transform(v, x -> CAST(floor(127 * x / scale + 0.5) AS INT)),
             ',') AS q
    FROM s
    WHERE scale > 0
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4×
    space cut that makes a 100 TB ANN index fit in cluster memory.
    Per-vector absmax scale, q = round(127·x/scale) via floor(x+0.5)
    (identical half-up behavior on both engines, including negatives);
    all arithmetic is double-precision IEEE on an identical expression
    tree, so the quantized codes are bit-equal cross-engine without
    any rounding fudge. Degenerate all-zero vectors are excluded on
    both sides (no divide-by-zero branch).

    Pure per-row transform: no shuffle, JVM-side HOF lambdas, scales
    linearly with the scan."""
    e = table(spark, sf_dir, "embeddings")
    t = e.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    s = t.select(
        "vec_id", "v", F.expr("array_max(transform(v, x -> abs(x)))").alias("scale")
    )
    return s.filter(F.col("scale") > 0).select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        # CSV string, not ArrayType: the driver canon sorts raw pandas
        # values and cannot hash ndarray cells. Integer codes, so the
        # string form is exact.
        F.expr(
            "array_join(transform(v, x -> cast(cast("
            "floor(127 * x / scale + 0.5) as int) as string)), ',')"
        ).alias("q"),
    )
