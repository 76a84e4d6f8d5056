"""Companion-bound ops: hash-checkable correctness contracts for the
ten sketch/sample operators the driver can only rows-check.

Each approximate op (HLL, KMV, quantile sketch, heavy hitters, MinHash
LSH, SimHash, E2LSH ANN, IVF ANN, Bernoulli sample) is deterministic
given the fixed fixtures and seeds, but its raw output is not
SQL-expressible, so the driver records ``no_oracle`` and the hard
signal is zero. These companions convert each sketch's CORRECTNESS
into a deterministic, DuckDB-checkable property:

* an EXACT column the oracle recomputes independently (exact distinct
  counts, exact top-k, ground-truth pair counts) — a real value hash,
  not just a tautology; and
* boolean accuracy bounds (relative error / rank band / recall vs an
  exact baseline) that the oracle pins to TRUE.

A sketch regression now flips a boolean or moves an exact count, and
the driver's hash check catches it — "trust my local tests" becomes a
driver-green row. Thresholds leave >=2x headroom over the measured
fixture error (all paths are seed-pinned and deterministic, so the
margin absorbs engine-version drift, not run-to-run noise).

Registered LAST in plans/registry._OP_MODULES: these keys are
never-attested, and they must sort BEHIND the 19 F/O/W keys still
waiting for their first attestation window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exprs import l2_distance, normalized_text, word_trigrams
from ..plans.registry import register, registered_oracle
from ..sources.scans import scan_sample
from ..tables import table
from .aggregations import agg_distinct_kmv, agg_hll_merge
from .extras import sim_ann_ivf
from .llm import (
    _QSTRIDE_SQL,
    _minhash_sig,
    _near_pairs,
    _ngram_candidates,
    _ngram_jaccard_scored,
    dedup_ngram_jaccard,
    query_panel,
    sim_ann_lsh,
    sim_knn_topk,
)
from .quantiles import exact_quantiles
from .text_quality import agg_heavy_hitters, dedup_simhash


def _one_row(*frames: DataFrame) -> DataFrame:
    """Combine single-row scalar frames into one row. Every side is a
    1-row aggregate, so the no-condition join is a broadcast nested
    loop over one row — constant cost at any corpus size."""
    out = frames[0]
    for f in frames[1:]:
        out = out.join(F.broadcast(f))
    return out



def _rel_err_ok(approx_col: str, exact_col: str, tol: float):
    """|approx - exact| / exact <= tol, with the zero-group edge the
    NULL-hostile fixtures exercise: a group whose keys are all NULL has
    exact = 0 (COUNT DISTINCT ignores NULLs) — vacuously in-tolerance,
    and dividing would trip ANSI DIVIDE_BY_ZERO."""
    exact = F.col(exact_col)
    return F.when(exact == 0, F.lit(True)).otherwise(
        (F.abs(F.col(approx_col) - exact) / exact) <= tol
    )


# --------------------------------------------------------------------
# G group: sketch aggregates vs their exact counterparts
# --------------------------------------------------------------------

@register(
    "agg_approx_distinct_bounds",
    group="G",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion bound for agg_approx_distinct: the exact per-group
    distinct count (hash-checked against DuckDB) plus a boolean pinning
    the HLL++ estimate (rsd=0.01) within 5% of it — 5x the configured
    rsd, so a broken sketch fails while engine drift does not.

    The HLL and the exact countDistinct run as SEPARATE aggregations
    joined on the group key, never mixed in one .agg(): Spark's
    distinct rewrite expands rows and keys the FIRST aggregate on
    (group, gid, l_partkey), allocating an imperative HLL buffer
    (~16 KB at rsd=0.01) for EVERY distinct (flag, partkey) hash-map
    entry — hundreds of thousands of no-op 16 KB buffers, ~10 GB at
    the 10x fixture; the census measured the mixed form OOMing a 4 g
    harness heap while each half runs in MBs. eqNullSafe keeps the
    NULL-flag group (GROUP BY retains it on both engines)."""
    li = table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    approx = li.groupBy(F.col("l_returnflag").alias("flag_a")).agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx")
    )
    return exact.join(
        F.broadcast(approx),
        F.col("l_returnflag").eqNullSafe(F.col("flag_a")),
    ).select(
        "l_returnflag", "exact_parts",
        _rel_err_ok("approx", "exact_parts", 0.05).alias("within_tol"),
    )


@register(
    "agg_approx_percentile_bounds",
    group="G",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS p50_in_band, TRUE AS p90_in_band
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion bound for agg_approx_percentile: the sketch guarantees
    rank error <= 1/accuracy (1e-4 at accuracy=10000), so each approx
    percentile's VALUE must lie inside the exact-percentile band at
    q +- 1e-3 — a 10x margin. Exact group sizes are the hash-checked
    column; the booleans pin the sketch. The exact band comes from the
    spill-safe exact_quantiles kernel (operators/quantiles.py), not the
    buffering built-in ``percentile``."""
    li = table(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.expr(
                f"percentile_approx(l_extendedprice, {q}, 10000)"
            ).alias(f"p{int(q * 100)}_ap")
            for q in (0.5, 0.9)
        ],
    )
    bands = exact_quantiles(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [
            (0.499, "p50_lo"), (0.501, "p50_hi"),
            (0.899, "p90_lo"), (0.901, "p90_hi"),
        ],
    )
    # Null-safe join key: the NULL-hostile fixtures add a NULL
    # l_returnflag group, which GROUP BY keeps but an equi-join drops.
    bands = bands.withColumnRenamed("l_returnflag", "k")
    g = approx.join(
        F.broadcast(bands), F.col("l_returnflag").eqNullSafe(F.col("k"))
    )
    # A group with no non-NULL values has NULL sketch and NULL band —
    # vacuously in-band (coalesce), not a three-valued-NULL cell.
    in_band = lambda t: F.coalesce(  # noqa: E731
        (F.col(f"{t}_ap") >= F.col(f"{t}_lo"))
        & (F.col(f"{t}_ap") <= F.col(f"{t}_hi")),
        F.lit(True),
    )
    return g.select(
        "l_returnflag",
        "n_rows",
        in_band("p50").alias("p50_in_band"),
        in_band("p90").alias("p90_in_band"),
    )


@register(
    "agg_hll_merge_bounds",
    group="G",
    oracle="""
    SELECT n.n_regionkey,
           COUNT(DISTINCT c.c_custkey) AS exact_customers,
           TRUE AS within_tol
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    """,
)
def agg_hll_merge_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion bound for agg_hll_merge: per-region exact distinct
    customers (hash-checked) + a boolean pinning the merged-sketch
    estimate within 5% (hll_sketch default lgConfigK=12 => ~1.6%
    typical error; 3x headroom)."""
    approx = agg_hll_merge(spark, sf_dir)  # n_regionkey, approx_customers
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    exact = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey")
        .agg(F.countDistinct("c_custkey").alias("exact_customers"))
    )
    return exact.join(F.broadcast(approx), "n_regionkey").select(
        "n_regionkey", "exact_customers",
        _rel_err_ok("approx_customers", "exact_customers", 0.05).alias(
            "within_tol"
        ),
    )


@register(
    "agg_distinct_kmv_bounds",
    group="G",
    oracle="""
    SELECT 'flag' AS scope, l_returnflag AS key,
           COUNT(DISTINCT l_orderkey) AS exact_distinct,
           TRUE AS within_tol
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'all' AS scope, '*' AS key,
           COUNT(DISTINCT l_orderkey) AS exact_distinct,
           TRUE AS within_tol
    FROM lineitem
    """,
)
def agg_distinct_kmv_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion bound for the hand-rolled KMV sketch: exact distinct
    orderkeys per scope (hash-checked) + |est-exact|/exact <= 0.35
    (k=64 => expected relative error ~1/sqrt(63) ~ 13%; the bound is
    ~2.7 sigma, and the xxhash64 path is fully deterministic)."""
    est = agg_distinct_kmv(spark, sf_dir)  # scope, key, est_distinct
    li = table(spark, sf_dir, "lineitem")
    flags = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    ).select(
        F.lit("flag").alias("scope"),
        F.col("l_returnflag").alias("key"),
        "exact_distinct",
    )
    total = li.agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    ).select(
        F.lit("all").alias("scope"), F.lit("*").alias("key"), "exact_distinct"
    )
    exact = flags.unionByName(total)
    est = est.withColumnRenamed("scope", "scope_e").withColumnRenamed(
        "key", "key_e"
    )
    # eqNullSafe on key: the NULL l_returnflag group must survive the
    # join (GROUP BY keeps it on both engines).
    return exact.join(
        F.broadcast(est),
        (F.col("scope") == F.col("scope_e"))
        & F.col("key").eqNullSafe(F.col("key_e")),
    ).select(
        "scope", "key", "exact_distinct",
        _rel_err_ok("est_distinct", "exact_distinct", 0.35).alias("within_tol"),
    )


# --------------------------------------------------------------------
# X/S group: heavy hitters, Bernoulli sample
# --------------------------------------------------------------------

@register(
    "agg_heavy_hitters_check",
    group="X",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
                 FROM documents),
    exact AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
              FROM tok GROUP BY token)
    SELECT token, n, TRUE AS in_sketch, TRUE AS count_exact
    FROM exact ORDER BY n DESC, token LIMIT 5
    """,
)
def agg_heavy_hitters_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion for agg_heavy_hitters: the exact top-5 tokens with
    exact counts (deterministic tie-break (n DESC, token), hash-checked
    against DuckDB) plus booleans pinning that each true heavy hitter
    appears in the sketch's top-10 AND the sketch's count for it is
    exact (approx_top_k tracks 100k items — far above the fixture
    vocabulary, so its counts must be exact, which is also what
    tests/test_quality.py asserts)."""
    d = table(spark, sf_dir, "documents")
    exact = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(5)
    )
    sketch = agg_heavy_hitters(spark, sf_dir).withColumnRenamed("n", "sketch_n")
    return (
        exact.join(F.broadcast(sketch), "token", "left")
        .select(
            "token",
            "n",
            F.col("sketch_n").isNotNull().alias("in_sketch"),
            (F.col("sketch_n") == F.col("n")).alias("count_exact"),
        )
        .orderBy(F.col("n").desc(), "token")
    )


@register(
    "scan_sample_bounds",
    group="S",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           TRUE AS in_ci, TRUE AS no_dups
    FROM orders
    """,
)
def scan_sample_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion for scan_sample (Bernoulli fraction=0.1, seed=42):
    exact table cardinality (hash-checked) + booleans pinning the
    sample size inside a 4-sigma binomial CI around 0.1*n and the
    sample free of duplicate keys (Bernoulli never replicates a row).
    The seed makes the sample deterministic within Spark, so the CI
    absorbs sampler-implementation drift, not noise."""
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    s = scan_sample(spark, sf_dir).select("o_orderkey")
    tagged = o.withColumn("in_sample", F.lit(False)).unionByName(
        s.withColumn("in_sample", F.lit(True))
    )
    g = tagged.agg(
        F.count(F.when(~F.col("in_sample"), 1)).alias("n_total"),
        F.count(F.when(F.col("in_sample"), 1)).alias("n_sample"),
        F.countDistinct(
            F.when(F.col("in_sample"), F.col("o_orderkey"))
        ).alias("n_sample_distinct"),
    )
    sigma = F.sqrt(F.col("n_total") * 0.1 * 0.9)
    return g.select(
        "n_total",
        (
            F.abs(F.col("n_sample") - 0.1 * F.col("n_total")) <= 4 * sigma
        ).alias("in_ci"),
        (F.col("n_sample_distinct") == F.col("n_sample")).alias("no_dups"),
    )


# --------------------------------------------------------------------
# L/X group: LSH / ANN recall vs exact baselines
# --------------------------------------------------------------------

# Ground truth for the text near-dup sketches: the EXACT shingle-
# Jaccard pairs of dedup_ngram_jaccard (itself hash-attested r03) at a
# higher threshold. Resolved lazily so the oracle text stays the
# single source of truth in llm.py.
def _ngram_truth_oracle(threshold: float, select: str) -> str:
    return (
        f"SELECT {select} FROM ({registered_oracle('dedup_ngram_jaccard')}) t"
        f" WHERE jaccard >= {threshold}"
    )


def _ngram_truth(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    return dedup_ngram_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= threshold
    ).select("id_a", "id_b")


@register(
    "dedup_near_recall",
    group="L",
    oracle=lambda: _ngram_truth_oracle(
        0.5,
        "CAST(COUNT(*) AS BIGINT) AS n_truth,"
        " TRUE AS recall_ok, TRUE AS precision_ok, TRUE AS pairs_ok",
    ),
)
def dedup_near_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion for dedup_near (banded MinHash): n_truth = the EXACT
    Jaccard>=0.5 pair count from the dedup_ngram_jaccard path
    (hash-checked against the same DuckDB CTE), recall_ok pins MinHash
    recall over that truth set >= 0.7 (8 AND-bands of 2 collide a true
    s=0.5 pair w.p. 0.90; the fixture's truth pairs sit well above the
    threshold, measured recall 1.0 at sf0.001/sf0.01), precision_ok
    pins xxhash64 injectivity over the corpus' distinct string
    shingles — which makes int-hashed-shingle Jaccard EXACTLY equal
    string-shingle Jaccard for every CANDIDATE pair (2^-64 collision
    odds), checked rather than assumed, in one linear pass — and
    pairs_ok re-derives the emitted threshold on a BOUNDED sample: up
    to 256 hash-selected emitted pairs have their Jaccard recomputed
    from the raw STRING shingle sets (a path independent of the
    int-hash pipeline), all required >= 0.5. Injectivity alone cannot
    catch a regression in dedup_near's exact-Jaccard filter (e.g. a
    dropped threshold) — the sampled recheck covers that claim (r6
    ADVICE).

    The corpus is scanned and shingled ONCE for ALL FOUR composed
    pipelines (r11; previously the truth pipeline re-scanned and
    re-shingled independently): the padded ``llm._shingled`` relation
    plus a token count is checkpointed here and feeds the signature
    pipeline (via ``_minhash_sig``/``_near_pairs`` — the exact
    dedup_near dataflow), the injectivity pass, the sampled recheck,
    AND the exact-Jaccard truth pipeline, whose DISTINCT-array
    relation is derived from the same base: for >= 3-token docs the
    padded and plain shingle arrays are identical (both n-2 shingles),
    shorter docs become the empty array the ngram convention produces,
    and NULL-text docs (absent from the base) could never enter the
    candidate set anyway — their NULL shingle rows explode to nothing.
    The pre-r6 formulation that re-built the shingle pipeline per
    branch was the heaviest entry of the r6 100x census (62s,
    heap-bound)."""
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id", "lang", "source",
            F.split("text", " ").alias("tokens"),
        )
        .select(
            "doc_id", "lang", "source",
            F.size("tokens").alias("n_tok"),
            word_trigrams("tokens", 1).alias("shingles"),
        )
        .localCheckpoint(eager=False)
    )
    shingled = base.select("doc_id", "shingles")
    sh_arr = base.select(
        "doc_id", "lang", "source",
        F.expr(
            "IF(n_tok >= 3, array_distinct(shingles),"
            " CAST(array() AS array<string>))"
        ).alias("shingles"),
    ).withColumn("n", F.size("shingles")).localCheckpoint(eager=False)
    truth = _ngram_jaccard_scored(
        *_ngram_candidates(spark, sf_dir, sh_arr=sh_arr)
    ).filter(F.col("jaccard") >= 0.5).select("id_a", "id_b")
    found = _near_pairs(_minhash_sig(shingled)).select("id_a", "id_b")
    hit = truth.join(found, ["id_a", "id_b"], "left_semi")
    recall = _one_row(
        truth.agg(F.count(F.lit(1)).alias("n_truth")),
        hit.agg(F.count(F.lit(1)).alias("n_hit")),
    )
    # precision_ok = xxhash64 is INJECTIVE over the corpus' distinct
    # string shingles (the SAME checkpointed relation the signature
    # pipeline hashes). Injectivity makes int-set Jaccard EQUAL
    # string-set Jaccard for every pair — a global distinct-count
    # comparison proves the pair-level claim exactly, in one linear
    # pass. The per-pair string-array attachment this replaced (~4 KB
    # per row x millions of pairs under the 100x fixture's duplicate
    # piles) OOMed the r6 census.
    shingles = shingled.select(F.explode("shingles").alias("ng"))
    prec = shingles.agg(
        (
            F.countDistinct("ng") == F.countDistinct(F.xxhash64("ng"))
        ).alias("all_ok")
    )
    # pairs_ok: bounded deterministic sample of emitted pairs
    # (TakeOrdered by pair hash — per-partition heaps, never a global
    # sort or a proportional slice), string-set Jaccard recomputed
    # from the same checkpointed shingle relation. bool_and = the
    # FOR-ALL quantifier (r6c: F.max over booleans is an OR).
    sample = found.orderBy(
        F.xxhash64("id_a", "id_b"), "id_a", "id_b"
    ).limit(256)
    str_a = shingled.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    str_b = shingled.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    sampled_jac = (
        sample.join(str_a, "id_a")
        .join(str_b, "id_b")
        .select(
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
                >= 0.5
            ).alias("ok")
        )
    )
    pairs = sampled_jac.agg(
        F.coalesce(F.expr("bool_and(ok)"), F.lit(True)).alias("pairs_ok")
    )
    return _one_row(recall, prec, pairs).select(
        "n_truth",
        F.coalesce(
            F.col("n_hit") >= 0.7 * F.col("n_truth"), F.lit(True)
        ).alias("recall_ok"),
        F.col("all_ok").alias("precision_ok"),
        "pairs_ok",
    )


@register(
    "dedup_simhash_recall",
    group="X",
    oracle=lambda: _ngram_truth_oracle(
        0.9, "CAST(COUNT(*) AS BIGINT) AS n_truth, TRUE AS recall_ok"
    ),
)
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion for dedup_simhash: n_truth = exact Jaccard>=0.9 pairs
    (hash-checked), recall_ok pins that >=60% of those near-identical
    pairs co-occur in at least one emitted band bucket (4x16-bit
    SimHash banding; a Jaccard-0.9 pair's hashes differ in few bits,
    so at least one 16-bit band agrees w.h.p. — measured recall 1.0 on
    the fixtures, threshold leaves margin for band-boundary pairs)."""
    truth = _ngram_truth(spark, sf_dir, 0.9)
    buckets = dedup_simhash(spark, sf_dir)
    members = buckets.select(
        "band_no",
        "band_value",
        F.explode(F.split("doc_ids", ",")).alias("doc_id_str"),
    ).select(
        "band_no", "band_value", F.col("doc_id_str").cast("long").alias("doc_id")
    )
    ma = members.select(
        "band_no", "band_value", F.col("doc_id").alias("id_a")
    )
    mb = members.select(
        F.col("band_no").alias("band_no_b"),
        F.col("band_value").alias("band_value_b"),
        F.col("doc_id").alias("id_b_m"),
    )
    covered = (
        truth.join(ma, "id_a")
        .join(
            mb,
            (F.col("band_no") == F.col("band_no_b"))
            & (F.col("band_value") == F.col("band_value_b"))
            & (F.col("id_b") == F.col("id_b_m")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _one_row(
        truth.agg(F.count(F.lit(1)).alias("n_truth")),
        covered.agg(F.count(F.lit(1)).alias("n_cov")),
    ).select(
        "n_truth",
        F.coalesce(
            F.col("n_cov") >= 0.6 * F.col("n_truth"), F.lit(True)
        ).alias("recall_ok"),
    )


_N_QUERIES_SQL = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
    FROM embeddings
    WHERE vec_id % {_QSTRIDE_SQL} = 0 AND embedding IS NOT NULL
"""


def _euclid_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact EUCLIDEAN top-5 per query (with distances) — brute force,
    same broadcast query-side / scan-once corpus shape as sim_knn_topk,
    same (distance, neighbor_id) tie-break as sim_ann_lsh. The LSH op
    ranks by euclidean distance, so its recall truth must too: cosine
    top-5 only coincides on unit vectors, and the magnitude/
    production-shard sweeps feed non-unit ones."""
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    q = query_panel(e, spark, sf_dir).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("ea")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("eb")
    )
    scored = F.broadcast(q).join(
        c, F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", l2_distance("ea", "eb").alias("d"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "d")
    )


def _ann_recall(
    spark: SparkSession,
    sf_dir: str,
    found: DataFrame,
    floor: float,
    truth: DataFrame,
) -> DataFrame:
    """Shared recall harness: |found ∩ exact top-5| / |exact top-5|
    >= floor, plus the DuckDB-checkable query count."""
    truth = truth.select("query_id", "neighbor_id")
    hits = truth.join(
        found.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    return _recall_row(spark, sf_dir, truth, hits, floor)


def _recall_row(
    spark: SparkSession,
    sf_dir: str,
    truth: DataFrame,
    hits: DataFrame,
    floor: float,
) -> DataFrame:
    """The recall companions' one output row: n_queries (the query
    panel's non-null vectors, which DuckDB recomputes) and recall_ok =
    |hits| >= floor * |truth| (vacuously TRUE on an empty truth)."""
    nq = (
        query_panel(table(spark, sf_dir, "embeddings"), spark, sf_dir)
        .filter(F.col("embedding").isNotNull())
        .agg(F.count(F.lit(1)).alias("n_queries"))
    )
    return _one_row(
        nq,
        truth.agg(F.count(F.lit(1)).alias("n_truth")),
        hits.agg(F.count(F.lit(1)).alias("n_hit")),
    ).select(
        "n_queries",
        F.coalesce(
            F.col("n_hit") >= floor * F.col("n_truth"), F.lit(True)
        ).alias("recall_ok"),
    )


@register("sim_ann_lsh_recall", group="L", oracle=_N_QUERIES_SQL)
def sim_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion for sim_ann_lsh: recall@5 vs the exact brute-force
    top-5 (sim_knn_topk) >= 0.6 — the embeddings are unit-norm, so the
    LSH's euclidean ranking and the baseline's cosine ranking agree.
    The 0.6 floor is the honest ANN contract (8 OR-bands of 2
    quantized projections, 256-member probe budget), not a tuned fit.
    Truth is the exact EUCLIDEAN top-5 (the metric the op ranks by),
    and a truth neighbor counts as recalled if the pair was returned
    OR the query's returned top-5 is wholly within 1.1x of the true
    5th-neighbor distance — the standard ANN distance-ratio recall
    (rank-recall alone punishes near-ties: on the random unit vectors
    of the sf0.1 fixture, 5000 vectors make the 5th/6th neighbors
    nearly equidistant, rank-recall drops to 0.57 while every returned
    neighbor sits within 1.1x of optimal). Measured: 1.0 at sf0.001/
    sf0.01/sf0.1 under the tie-tolerant definition."""
    truth = _euclid_truth(spark, sf_dir)
    found = sim_ann_lsh(spark, sf_dir)
    d5 = truth.groupBy("query_id").agg(F.max("d").alias("d5"))
    qgood = (
        found.join(F.broadcast(d5), "query_id")
        .groupBy("query_id")
        .agg(
            (
                (F.count(F.lit(1)) == 5)
                # ALL-semantics: EVERY returned neighbor must sit within
                # 1.1x of the true 5th distance — min over the booleans
                # (max is an OR: one close candidate would have marked
                # the whole query good and made the clause vacuous).
                & (F.min(F.col("euclid_dist") <= F.col("d5") * 1.1 + 1e-3))
            ).alias("qgood")
        )
        .filter("qgood")
        .select("query_id")
    )
    pair_hit = truth.join(
        found.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    tie_hit = truth.join(qgood, "query_id", "left_semi")
    hits = pair_hit.unionByName(tie_hit).select("query_id", "neighbor_id").distinct()
    return _recall_row(spark, sf_dir, truth, hits, 0.6)


@register("sim_ann_ivf_recall", group="X", oracle=_N_QUERIES_SQL)
def sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion for sim_ann_ivf: recall@5 vs exact brute-force top-5
    >= 0.6 (a query's true neighbor can land outside the nprobe=3
    probed cells — that miss rate is the IVF trade; measured recall
    0.84 at both fixture SFs). Truth is the exact COSINE top-5
    (sim_knn_topk, itself hash-attested r03 — the op ranks by cosine,
    so truth and op agree at any vector magnitude)."""
    return _ann_recall(
        spark, sf_dir, sim_ann_ivf(spark, sf_dir), 0.6,
        sim_knn_topk(spark, sf_dir),
    )


@register(
    "dedup_exact_normalized_counts",
    group="X",
    oracle="""
    WITH n AS (
      SELECT trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
               ' +', ' ', 'g')) AS norm
      FROM documents WHERE text IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_groups,
           CAST(COUNT(*) - COUNT(DISTINCT norm) AS BIGINT) AS n_collapsed
    FROM n
    """,
)
def dedup_exact_normalized_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion for dedup_exact_normalized, whose own driver row is
    VACUOUS on fixtures with no normalized duplicates (0 rows on both
    engines proves only that both agree nothing collapsed — r6
    verdict). This emits the corpus-level counts of the SAME
    normalization: n_docs (non-null texts), n_groups (distinct
    normalized forms — Spark counts md5 digests, identical modulo a
    2^-128 collision, so the shuffle moves 32-byte keys, never text),
    n_collapsed = docs minus groups = exactly the number of dup_id
    rows dedup_exact_normalized would emit. One row on ANY corpus, so
    the driver hash pins the normalization semantics even when the
    planted-duplicate case (tests/test_extensions.py) is the only
    place pairs exist."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return d.select(F.md5(normalized_text("text")).alias("h")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_groups"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_collapsed"),
    )
