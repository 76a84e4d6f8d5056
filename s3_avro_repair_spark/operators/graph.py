"""C group — iterative graph analytics over the similarity graph.

Connected components (lifecycle.py) answers "which docs are the same";
PageRank answers "which docs are CENTRAL" — the canonical importance
score over the near-duplicate/citation graph, used to pick which
cluster member to keep or which page to prioritize in a crawl corpus.

The oracle is exact: the power iteration is UNROLLED into ten chained
(non-recursive) CTEs, one per round, so DuckDB computes the identical
fixed-iteration PageRank with aggregates allowed in every step —
sidestepping SQL's no-aggregates-in-recursion rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import both_ways, cosine
from ..plans.registry import register
from ..tables import table

_ITERS = 10
_DAMP = 0.85
_CKPT_EVERY = 5  # lineage-cut cadence: jobs per power iteration window

# Same blocked candidate generation as dedup_clusters (lifecycle.py) —
# bounded pairs, never all-pairs. The cosine threshold is the graph's
# density knob: 0.35 gives PageRank a sparse citation-like graph;
# triangle counting needs enough degree-2+ nodes to close wedges, so
# it runs the same generator at 0.05.
def _pairs_cte(thr: float) -> str:
    return f"""
    WITH pairs AS (
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
      WHERE d.dot / (SQRT(d.na) * SQRT(d.nb)) >= {thr}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(DISTINCT src) AS n FROM edges)
"""


_PAIRS_CTE = _pairs_cte(0.35)


def sim_edges(spark: SparkSession, sf_dir: str, thr: float) -> DataFrame:
    """Undirected similarity pairs (id_a < id_b), the Spark twin of
    ``_pairs_cte``'s pairs: label-blocked, id-banded (band 50)
    candidates with cosine >= thr — bounded pairs, never all-pairs.
    The one edge relation of the similarity-graph ops: graph_pagerank
    and graph_triangles (through ``_sim_pairs``) and lifecycle's
    dedup_clusters, dedup_canonical and dedup_clusters_bigstar. It
    lives here because graph is the first of those modules the
    registry loads; ``llm`` is imported lazily for the same reason."""
    from .llm import banded_candidates

    return (
        banded_candidates(spark, sf_dir, band=50)
        .filter(cosine() >= thr)
        .select("id_a", "id_b")
    )


def _sim_pairs(spark: SparkSession, sf_dir: str, thr: float = 0.35) -> DataFrame:
    """``sim_edges`` made a SIMPLE graph by ``distinct()``, the twin of
    the oracle's UNION-distinct edges CTE: re-delivered embedding rows
    (at-least-once ingest) would otherwise produce multi-edges that
    inflate degrees, PageRank mass, and triangle counts
    (production-shard find — n_tri 222 vs 1 on one node)."""
    return sim_edges(spark, sf_dir, thr).distinct()


def _pagerank_oracle() -> str:
    sql = _PAIRS_CTE
    sql += """,
    it0 AS (
      SELECT src AS vec_id, 1.0 / (SELECT n FROM nn) AS score
      FROM (SELECT DISTINCT src FROM edges)
    )"""
    for k in range(1, _ITERS + 1):
        sql += f""",
    it{k} AS (
      SELECT dst AS vec_id,
             (1 - {_DAMP}) / (SELECT n FROM nn) + {_DAMP} * s AS score
      FROM (
        SELECT e.dst, SUM(p.score / d.deg) AS s
        FROM it{k - 1} p
        JOIN edges e ON p.vec_id = e.src
        JOIN deg   d ON d.src = p.vec_id
        GROUP BY e.dst
      )
    )"""
    sql += f"""
    SELECT vec_id, ROUND(score, 6) AS score FROM it{_ITERS}
    """
    return sql


@register("graph_pagerank", group="C", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (10 rounds, damping 0.85) over the
    symmetric cosine-similarity graph. Every node in the edge set has
    degree >= 1, so there is no dangling mass; nodes outside the graph
    are unranked by definition.

    Spark plan: each round is contribute (join scores to edges on src,
    divide by degree) -> combine (groupBy dst, sum) -> damp — one
    shuffle per round on node id, ``localCheckpoint`` to truncate
    lineage exactly like dedup_clusters. Scores round to 6 dp on both
    engines so double summation order (Spark partial aggregation vs
    DuckDB streaming agg) cannot flip the hash. At 100 TB the
    per-round join keys both sides on src, so a pre-partitioned edge
    table amortizes its shuffle across all rounds — the classic Pregel
    layout."""
    bare = both_ways(_sim_pairs(spark, sf_dir))
    # Fold the out-degree INTO the checkpointed edge relation (r7):
    # the old layout checkpointed bare edges and joined a lazily
    # re-aggregated deg relation every round — 10 redundant
    # aggregate+join stages across the sequenced jobs. With deg
    # carried on each edge row, every round is exactly one join + one
    # aggregate, and the checkpoint still amortizes the edge shuffle
    # across all rounds.
    deg = bare.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges = bare.join(deg, "src").localCheckpoint(eager=True)
    nodes = edges.select("src").distinct()
    n = nodes.count()
    if n == 0:
        # Empty graph (empty corpus, or a filter left no similarity
        # pairs): zero ranked nodes, not a 1/n division crash.
        return nodes.select(
            F.col("src").alias("vec_id"), F.lit(0.0).alias("score")
        )
    scores = nodes.select(
        F.col("src").alias("vec_id"), F.lit(1.0 / n).alias("score")
    ).localCheckpoint(eager=True)
    for i in range(_ITERS):
        contrib = edges.join(
            scores.withColumnRenamed("vec_id", "src"), "src"
        ).select("dst", (F.col("score") / F.col("deg")).alias("c"))
        scores = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("vec_id"),
                (F.lit((1 - _DAMP) / n) + F.lit(_DAMP) * F.col("s")).alias(
                    "score"
                ),
            )
        )
        # Checkpoint every _CKPT_EVERY rounds, not every round (r10):
        # each eager checkpoint is one sequential job, and a 10-job
        # chain over the tiny score relation is pure scheduling floor
        # (3.1s -> 2.2s at sf0.1). Lineage within a window is a linear
        # chain of <= _CKPT_EVERY join+agg rounds consumed exactly
        # once — no branch re-execution — and failure recomputation
        # stays bounded by the window.
        if (i + 1) % _CKPT_EVERY == 0 or i == _ITERS - 1:
            scores = scores.localCheckpoint(eager=True)
    return scores.select("vec_id", F.round("score", 6).alias("score"))


_KMEANS_ORACLE = """
    WITH t AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) AS scale
      FROM t
    ),
    q AS (
      SELECT vec_id,
             list_transform(dv, x -> CAST(floor(127 * x / scale + 0.5) AS INT))
               AS v
      FROM s WHERE scale > 0
    ),
    c0 AS (SELECT vec_id AS cid, v AS c FROM q WHERE vec_id < 4),
    a1 AS (
      SELECT vec_id, v, cid,
             (SELECT SUM((v[i] - c[i]) * (v[i] - c[i]))
              FROM generate_series(1, 64) g(i)) AS d2
      FROM q, c0
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
    ),
    c1 AS (
      SELECT cid, list(cv ORDER BY i) AS c
      FROM (
        SELECT cid, i, CAST(floor(SUM(v[i]) * 1.0 / COUNT(*)) AS INT) AS cv
        FROM a1, generate_series(1, 64) g(i)
        GROUP BY cid, i
      )
      GROUP BY cid
    ),
    a2 AS (
      SELECT vec_id, v, cid,
             (SELECT SUM((v[i] - c[i]) * (v[i] - c[i]))
              FROM generate_series(1, 64) g(i)) AS d2
      FROM q, c1
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
    ),
    c2 AS (
      SELECT cid, list(cv ORDER BY i) AS c
      FROM (
        SELECT cid, i, CAST(floor(SUM(v[i]) * 1.0 / COUNT(*)) AS INT) AS cv
        FROM a2, generate_series(1, 64) g(i)
        GROUP BY cid, i
      )
      GROUP BY cid
    )
    SELECT a.cid AS cluster_id, COUNT(*) AS n_members,
           array_to_string(ANY_VALUE(c.c), ',') AS centroid
    FROM a2 a JOIN c2 c ON a.cid = c.cid
    GROUP BY a.cid
"""


def _int8_codes(e: DataFrame) -> DataFrame:
    """(vec_id, v): each embedding of ``e`` with a nonzero max |x|
    quantized to int8 codes, floor(127 * x / max|x| + 0.5) — the
    embedding_quantize kernel both engines compute bit-equal."""
    t = e.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("dv")
    )
    s = t.select(
        "vec_id", "dv", F.expr("array_max(transform(dv, x -> abs(x)))").alias("scale")
    )
    return s.filter(F.col("scale") > 0).select(
        "vec_id",
        F.expr("transform(dv, x -> cast(floor(127 * x / scale + 0.5) as int))").alias(
            "v"
        ),
    )


def _lloyd_two_rounds(q: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """Two rounds of integer-exact Lloyd over ``_int8_codes`` rows,
    started from the codes of the ``k`` smallest vec_ids: returns the
    second round's assignment (vec_id, v, cid, d2 = integer squared
    distance to its centroid; ties to the smaller cid) and the
    centroids (cid, c) it moves them to (per-dimension floor(sum /
    count)). Each round broadcasts the k centroid rows against ``q``
    and shuffles only (k x dim) partial sums."""
    cents = q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    assign = None
    for _ in range(2):
        d2 = F.expr(
            "aggregate(zip_with(v, c, (x, y) -> CAST(x - y AS BIGINT) * (x - y)),"
            " 0L, (a, x) -> a + x)"
        )
        pairs = q.crossJoin(F.broadcast(cents)).withColumn("d2", d2)
        w = Window.partitionBy("vec_id").orderBy("d2", "cid")
        assign = (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "v", "cid", "d2")
        )
        dims = (
            assign.select("cid", F.posexplode("v").alias("i", "val"))
            .groupBy("cid", "i")
            .agg(
                F.floor(F.sum("val") / F.count(F.lit(1))).cast("int").alias("cv")
            )
        )
        cents = dims.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, cv))), p -> p.cv)"
            ).alias("c")
        )
    return assign, cents


@register("kmeans_quantized", group="C", oracle=_KMEANS_ORACLE)
def kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd k-means (k=4, 2 rounds) over int8-quantized
    embeddings — the clustering step of a corpus-organization /
    IVF-index-build pipeline, run ENTIRELY in exact integer arithmetic
    so the oracle can be exact: quantized codes (embedding_quantize's
    kernel), integer squared distances, and floor(sum/count) centroid
    updates leave no accumulation-order float drift for either engine.
    The DuckDB oracle unrolls both rounds into chained CTEs
    (graph_pagerank's discipline): same init (4 smallest vec_ids), same
    tie-breaks (distance, then centroid id), cell-identical output.

    Scale shape per round: assignment is a broadcast of k tiny
    centroid rows against the vector scan (never a shuffle of
    vectors), and the centroid update shuffles (k × dim) partial sums
    — both invariant in the corpus size except the scan itself. The
    driver holds no data; iteration count is fixed, so the whole job
    is one lazy plan."""
    q = _int8_codes(table(spark, sf_dir, "embeddings"))
    assign, cents = _lloyd_two_rounds(q, 4)
    return (
        assign.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(F.broadcast(cents), "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            # Serialized to a CSV string, not ArrayType: the driver's
            # canonicalizer sorts raw pandas values and crashes on
            # unhashable ndarray cells. Integer components, so the
            # string rendition is exact on both engines.
            F.expr("array_join(transform(c, x -> cast(x as string)), ',')").alias(
                "centroid"
            ),
        )
    )


def _triangles_oracle() -> str:
    return (
        _pairs_cte(0.05)
        + """,
    ornt AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.id_a < p.id_b)
                  THEN p.id_a ELSE p.id_b END AS src,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.id_a < p.id_b)
                  THEN p.id_b ELSE p.id_a END AS dst,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.id_a < p.id_b)
                  THEN db.deg ELSE da.deg END AS ddeg
      FROM (SELECT DISTINCT id_a, id_b FROM pairs) p  -- simple graph:
      -- re-delivered vectors must not orient an edge twice (the edges
      -- CTE already dedups; production-shard find)
      JOIN deg da ON da.src = p.id_a
      JOIN deg db ON db.src = p.id_b
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM ornt e1
      JOIN ornt e2 ON e1.src = e2.src
       AND (e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
      JOIN ornt e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    pertri AS (
      SELECT id, COUNT(*) AS n_tri FROM (
        SELECT a AS id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY id
    )
    SELECT d.src AS vec_id,
           CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
           ROUND(2.0 * COALESCE(t.n_tri, 0) / (d.deg * (d.deg - 1)), 6)
             AS clustering_coeff
    FROM deg d LEFT JOIN pertri t ON t.id = d.src
    WHERE d.deg >= 2
    """
    )


@register("graph_triangles", group="C", oracle=_triangles_oracle())
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    same similarity graph PageRank ranks — the density signal behind
    community detection and crawl-graph spam scoring.

    Degree-oriented enumeration (the distributed-triangle standard):
    every undirected edge is directed from its (degree, id)-smaller
    endpoint to its larger one, wedges are generated only at a
    node's OUT-neighbors, and a wedge closes iff the oriented edge
    (v, w) exists. Each triangle is produced exactly once, and the
    wedge fan-out per node is bounded by OUT-degree ~ O(sqrt(m))
    rather than raw degree — the difference between a star node
    generating deg² wedges and sqrt(m)² = m at 100 TB. Both the
    wedge join and the closing join are plain hash joins on node
    ids; per-node counts are one groupBy over the 3-row-per-triangle
    expansion. Coefficient = 2*tri / (deg*(deg-1)), deg >= 2 nodes
    only, rounded identically on both engines.

    Runs the shared similarity-graph generator at cosine 0.05 (vs
    PageRank's 0.35): the sparse 0.35 graph has max degree 1 at
    fixture scale — no wedge can close — while 0.05 yields hundreds
    of triangles, so the hash check exercises the enumeration for
    real."""
    pairs = _sim_pairs(spark, sf_dir, thr=0.05).localCheckpoint(eager=True)
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    deg = edges.groupBy(F.col("id_a").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    da = deg.select(F.col("id").alias("id_a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("id").alias("id_b"), F.col("deg").alias("degb"))
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("id_a") < F.col("id_b"))
    )
    ornt = (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .select(
            F.when(a_first, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
            F.when(a_first, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
            F.when(a_first, F.col("degb")).otherwise(F.col("dega")).alias("ddeg"),
        )
        .localCheckpoint(eager=True)
    )
    e1 = ornt.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("ddeg").alias("bdeg")
    )
    e2 = ornt.select(
        F.col("src").alias("a2"), F.col("dst").alias("c"), F.col("ddeg").alias("cdeg")
    )
    wedges = e1.join(
        e2,
        (F.col("a") == F.col("a2"))
        & (
            (F.col("bdeg") < F.col("cdeg"))
            | ((F.col("bdeg") == F.col("cdeg")) & (F.col("b") < F.col("c")))
        ),
    ).select("a", "b", "c")
    closing = ornt.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"], "left_semi")
    per = (
        tri.select(F.col("a").alias("id"))
        .union(tri.select(F.col("b").alias("id")))
        .union(tri.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(per, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_tri"),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )
