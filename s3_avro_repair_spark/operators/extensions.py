"""X group (round 6) — training-pipeline extension operators.

Ten operators a 100 TB training-data pipeline needs that the surface
did not yet cover: unigram-LM quality scoring, robust (MAD-fenced)
outlier detection, deterministic weighted sampling (A-ES), hopping
windows, OHLC resampling, timestamp-gap detection, embedding-space
outlier distances, URL parsing, normalized exact dedup, and
sample-convention higher moments. Every op is a declarative DataFrame
plan (zero Python in the row path) with an exact DuckDB oracle.

Registered LAST in plans/registry._OP_MODULES (behind companions):
these keys are never-attested, and they must sort BEHIND every key
still waiting for its first attestation window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import band_join, dsum, normalized_text
from ..plans.registry import register
from ..tables import table
from .quantiles import exact_quantiles


@register(
    "text_perplexity_unigram",
    group="X",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents WHERE text IS NOT NULL),
    tc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    n AS (SELECT COUNT(*) AS total FROM tok)
    SELECT tok.doc_id, COUNT(*) AS n_tokens,
           ROUND(AVG(-LN(tc.c / CAST(n.total AS DOUBLE))), 4) + 0 AS xent
    FROM tok JOIN tc ON tok.w = tc.w, n
    GROUP BY tok.doc_id
    """,
)
def text_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document — the CCNet/Gopher-style
    quality score: documents whose tokens are corpus-typical score low,
    gibberish and boilerplate-free rarities score high. MLE unigram
    probabilities need no smoothing (every scored token is in the
    corpus by construction).

    Scale shape: one tokenize feeding both sides; the vocabulary
    aggregate partial-aggregates map-side; the token->count join is a
    plain equi-join that AQE broadcasts at fixture scale and
    shuffle-joins at real vocabulary sizes (both linear); the scalar
    corpus total joins as a 1-row broadcast. Final per-doc aggregate
    shuffles (doc_id, -log p) doubles only — the text never crosses
    the wire. Rounded 4dp: the only cross-engine drift is libm LN ulps
    and AVG summation order (~1e-12 relative)."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = tc.agg(F.sum("c").alias("total"))
    logp = -F.log(F.col("c").cast("double") / F.col("total").cast("double"))
    return (
        tok.join(tc, "w")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.round(F.avg(logp), 4) + F.lit(0)).alias("xent"),
        )
    )


@register(
    "ts_gap_detect",
    group="X",
    oracle="""
    WITH x AS (
      SELECT user_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id
               ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev_us
      FROM events
    )
    SELECT user_id, prev_us AS gap_start_us, us AS gap_end_us,
           us - prev_us AS gap_us
    FROM x
    WHERE us - prev_us > 7200000000
    """,
)
def ts_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity timestamp-gap detection: consecutive event pairs more
    than two hours apart — the data-freshness / sensor-outage audit
    every ingestion pipeline runs, and the precursor to gap-aware
    interpolation (ts_interpolate). One window shuffle on user_id;
    output is (entity, gap) rows as epoch-microsecond BIGINTs — exact
    integers, never raw TIMESTAMP columns (pandas dtype drift between
    engines). The ORDER BY ends in event_id so tied timestamps have a
    total order (key-collision rule); a fully tied pair yields gap 0
    under any interleave, so output is interleave-invariant."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    x = e.select(
        "user_id",
        us.alias("us"),
        F.lag(us).over(w).alias("prev_us"),
    )
    gap = F.col("us") - F.col("prev_us")
    return x.filter(gap > 7200000000).select(
        "user_id",
        F.col("prev_us").alias("gap_start_us"),
        F.col("us").alias("gap_end_us"),
        gap.alias("gap_us"),
    )


@register(
    "window_hopping",
    group="X",
    oracle="""
    WITH x AS (
      SELECT event_type, value,
             epoch_us(ts) - ((epoch_us(ts) % 900000000) + 900000000)
               % 900000000 AS w0
      FROM events WHERE ts IS NOT NULL
    ),
    h AS (
      SELECT event_type, value,
             unnest(generate_series(w0 - 2700000000, w0,
                                    CAST(900000000 AS BIGINT))) AS ws_us
      FROM x
    )
    SELECT ws_us, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM h GROUP BY ws_us, event_type
    """,
)
def window_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding-batch) window aggregate: 1-hour windows every
    15 minutes — the batch twin of stream_sliding, via Spark's native
    ``window()`` expression (TimeWindow expands each event into its 4
    containing windows inside codegen; no self-join, no range join).
    The oracle reproduces TimeWindow's floor-to-slide assignment with
    pure integer arithmetic (pmod keeps pre-1970 timestamps exact).
    Output cardinality is windows x types — summary rows, not events;
    decimal-exact sums (exprs.dsum) keep the value hash
    order-independent. NULL timestamps are excluded on both engines
    (Spark emits a NULL window, DuckDB an empty series — the filter
    makes the engines agree)."""
    e = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
        .select(
            F.unix_micros(F.col("win.start")).alias("ws_us"),
            "event_type",
            "n",
            "total",
        )
    )


@register(
    "ts_resample_ohlc",
    group="X",
    oracle="""
    WITH x AS (
      SELECT event_type, value, ts, event_id,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hr_us
      FROM events
    ),
    r AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY event_type, hr_us
               ORDER BY ts NULLS FIRST, event_id NULLS FIRST,
                        value NULLS FIRST) AS rn_a,
             row_number() OVER (
               PARTITION BY event_type, hr_us
               ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST,
                        value DESC NULLS LAST) AS rn_d
      FROM x
    )
    SELECT event_type, hr_us,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n
    FROM r GROUP BY event_type, hr_us
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling: per (series, hour) open/high/low/close — the
    financial-bar / metrics-rollup shape. Open and close are first/last
    by a TOTAL order (ts, event_id, value — the key-collision rule:
    duplicate (ts, event_id) rows with different payloads must not make
    the answer depend on interleave). One window shuffle; the groupBy
    reuses the window's (event_type, hour) hash partitioning so no
    second exchange; high/low/count pass through exact."""
    e = table(spark, sf_dir, "events")
    hr = F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hr_us")
    x = e.select("event_type", "value", "ts", "event_id", hr)
    asc = Window.partitionBy("event_type", "hr_us").orderBy(
        "ts", "event_id", "value"
    )
    desc = Window.partitionBy("event_type", "hr_us").orderBy(
        F.col("ts").desc_nulls_last(),
        F.col("event_id").desc_nulls_last(),
        F.col("value").desc_nulls_last(),
    )
    r = x.select(
        "event_type",
        "hr_us",
        "value",
        F.row_number().over(asc).alias("rn_a"),
        F.row_number().over(desc).alias("rn_d"),
    )
    return r.groupBy("event_type", "hr_us").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "ts_anomaly_mad",
    group="X",
    oracle="""
    WITH s AS (
      SELECT event_type, median(value) AS med, mad(value) AS madv
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND((e.value - s.med) / (1.4826 * s.madv), 4) + 0 AS robust_z
    FROM events e JOIN s ON e.event_type IS NOT DISTINCT FROM s.event_type
    WHERE s.madv > 0 AND ABS(e.value - s.med) > 3 * 1.4826 * s.madv
    """,
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-fenced outlier detection: rows whose |value - median| clears
    3 robust sigmas (1.4826 x MAD) of their series — the quality fence
    that survives the heavy tails which wreck stddev z-scores
    (ts_zscore's robust cousin; the row-level application of agg_mad).
    Both median passes use the sort-based spill-safe exact_quantiles
    kernel; the per-series fences broadcast back (series cardinality
    is tiny next to the fact). The threshold compares full-precision
    doubles that are bit-identical in both engines (exact medians of
    identical inputs), so boundary decisions can't flip; only the
    reported z is rounded."""
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = exact_quantiles(
        e, ["event_type"], "value", [(0.5, "med")]
    ).withColumnRenamed("event_type", "m_type")
    dev = e.join(
        F.broadcast(med), F.col("event_type").eqNullSafe(F.col("m_type"))
    ).select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = exact_quantiles(
        dev, ["event_type"], "adev", [(0.5, "madv")]
    ).withColumnRenamed("event_type", "f_type")
    fenced = dev.join(
        F.broadcast(mad), F.col("event_type").eqNullSafe(F.col("f_type"))
    )
    z = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("madv"))
    return fenced.filter(
        (F.col("madv") > 0)
        & (F.col("adev") > F.lit(3) * F.lit(1.4826) * F.col("madv"))
    ).select(
        "event_id",
        "event_type",
        "value",
        (F.round(z, 4) + F.lit(0)).alias("robust_z"),
    )


@register(
    "sample_reservoir_weighted",
    group="X",
    oracle="""
    WITH w AS (
      SELECT doc_id, n_chars,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
                                          || ':wres'), 1, 12)) AS UBIGINT)
               AS h
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars,
           ROUND(LN((h + 1) / 281474976710657.0) / n_chars, 6) + 0 AS wkey
    FROM w
    ORDER BY LN((h + 1) / 281474976710657.0) / n_chars DESC, doc_id
    LIMIT 100
    """,
)
def sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES /
    Efraimidis-Spirakis): each row draws u from a content hash and
    ranks by ln(u)/w — the top-k by that key IS a weighted sample, and
    because u comes from md5 (not an RNG) the same rows are chosen on
    every engine, every run, every cluster size (sample_hash_det's
    reproducibility argument, now with weights — the corpus-mixing
    primitive behind upsampling high-quality sources). u = (h+1)/(2^48
    + 1) from the first 12 md5 hex digits: exact in a double on both
    engines. Narrow map + a global top-k (TakeOrderedAndProject — no
    full sort, no shuffle of losers); ties are impossible short of an
    md5 collision, and the doc_id tiebreak pins even that case."""
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":wres"))), 1, 12),
        16,
        10,
    ).cast("double")
    key = F.log((h + 1) / F.lit(281474976710657.0)) / F.col("n_chars")
    return (
        d.select(
            "doc_id",
            "n_chars",
            key.alias("k_full"),
        )
        .orderBy(F.col("k_full").desc(), "doc_id")
        .limit(100)
        .select(
            "doc_id",
            "n_chars",
            (F.round("k_full", 6) + F.lit(0)).alias("wkey"),
        )
    )


@register(
    "embedding_centroid_distance",
    group="X",
    oracle="""
    WITH un AS (
      SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings
      CROSS JOIN UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    c AS (SELECT label, i, AVG(x) AS cx FROM un GROUP BY label, i)
    SELECT un.vec_id, un.label,
           ROUND(SQRT(SUM((un.x - c.cx) * (un.x - c.cx))), 4) AS dist
    FROM un JOIN c ON un.label IS NOT DISTINCT FROM c.label AND un.i = c.i
    GROUP BY un.vec_id, un.label
    """,
)
def embedding_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance of every vector to its class centroid — the
    embedding-space outlier score (mislabeled / off-distribution
    training examples sit far from their label's centroid; the
    filtering complement of kmeans_quantized's codebook view).

    The centroid aggregate runs over (label, dim) cells — posexplode
    is JVM-side, the aggregate partial-aggregates map-side, and the
    result is labels x dims rows (tiny), broadcast back to the
    exploded fact. Per-vector reduce shuffles (vec_id, squared-dev)
    doubles. Label join is null-safe: a NULL label is a real group on
    both engines. Rounded 4dp: centroid AVG order-drift is ~1e-13
    relative."""
    em = table(spark, sf_dir, "embeddings")
    un = em.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "label", "i", F.col("xf").cast("double").alias("x"))
    cent = (
        un.groupBy("label", "i")
        .agg(F.avg("x").alias("cx"))
        .select(
            F.col("label").alias("c_label"), F.col("i").alias("c_i"), "cx"
        )
    )
    joined = un.join(
        F.broadcast(cent),
        F.col("label").eqNullSafe(F.col("c_label"))
        & (F.col("i") == F.col("c_i")),
    )
    dev2 = (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
    return joined.groupBy("vec_id", "label").agg(
        F.round(F.sqrt(F.sum(dev2)), 4).alias("dist")
    )


@register(
    "fn_url",
    group="X",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             regexp_replace(source, '[^a-zA-Z0-9-]', '', 'g') AS s_clean,
             regexp_replace(lang, '[^a-zA-Z0-9-]', '', 'g') AS l_clean,
             n_chars
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN length(s_clean) = 0 OR length(l_clean) = 0 THEN NULL
                ELSE 'https://' || s_clean || '.example.org/' || l_clean
                     || '/' || CAST(doc_id AS VARCHAR)
                     || '?q=' || CAST(n_chars AS VARCHAR) END AS url,
           CASE WHEN length(s_clean) = 0 OR length(l_clean) = 0
                  OR l_clean IS NULL OR n_chars IS NULL
                  OR doc_id IS NULL THEN NULL
                ELSE s_clean || '.example.org' END AS host,
           CASE WHEN length(s_clean) = 0 OR length(l_clean) = 0
                  OR s_clean IS NULL OR n_chars IS NULL THEN NULL
                ELSE '/' || l_clean || '/' || CAST(doc_id AS VARCHAR) END
             AS path,
           CASE WHEN length(s_clean) = 0 OR length(l_clean) = 0
                  OR s_clean IS NULL OR l_clean IS NULL
                  OR n_chars IS NULL OR doc_id IS NULL THEN NULL
                ELSE 'q=' || CAST(n_chars AS VARCHAR) END AS query,
           CASE WHEN length(s_clean) = 0 OR length(l_clean) = 0
                  OR s_clean IS NULL OR l_clean IS NULL
                  OR n_chars IS NULL OR doc_id IS NULL THEN NULL
                ELSE CAST(n_chars AS VARCHAR) END AS q_param
    FROM u
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL construction + parse_url round-trip — the web-corpus
    plumbing (host-level dedup keys, path routing, query extraction
    all start from parse_url). URLs are BUILT from sanitized fixture
    columns so the oracle knows ground truth without needing a URL
    parser: Spark's parse_url(HOST/PATH/QUERY[, key]) must return
    exactly the parts the construction put in. concat null-propagates
    on both engines (NULL source/lang/n_chars nulls every part); empty
    sanitized parts are gated to NULL identically. Pure codegen
    expressions — a narrow map at any scale."""
    d = table(spark, sf_dir, "documents")
    s_clean = F.regexp_replace(F.col("source"), "[^a-zA-Z0-9-]", "")
    l_clean = F.regexp_replace(F.col("lang"), "[^a-zA-Z0-9-]", "")
    url = F.when(
        (F.length(s_clean) == 0) | (F.length(l_clean) == 0), F.lit(None)
    ).otherwise(
        F.concat(
            F.lit("https://"),
            s_clean,
            F.lit(".example.org/"),
            l_clean,
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit("?q="),
            F.col("n_chars").cast("string"),
        )
    )
    x = d.select("doc_id", url.alias("url"))
    return x.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("q")).alias("q_param"),
    )


@register(
    "dedup_exact_normalized",
    group="X",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(
                    regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
                    ' +', ' ', 'g')) AS norm
      FROM documents WHERE text IS NOT NULL
    ),
    k AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY norm) AS keep_id
          FROM n)
    SELECT keep_id, doc_id AS dup_id FROM k WHERE doc_id <> keep_id
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER canonical normalization (text_normalize's
    lowercase / strip-punctuation / collapse-whitespace) — catches the
    near-identical crawls that raw exact dedup misses (same body,
    different casing or punctuation) without any similarity machinery.
    Spark groups on md5(norm) so the shuffle moves 32-byte digests,
    never text (dedup_exact's argument; identical modulo a 2^-128
    collision — the oracle groups on the normalized text itself).
    Window-min, not groupBy+collect: no per-group buffering however
    degenerate the pile (every doc normalizing to '' is ONE group)."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n = d.select("doc_id", F.md5(normalized_text("text")).alias("h"))
    k = n.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy("h")).alias("keep_id"),
    )
    return k.filter(F.col("doc_id") != F.col("keep_id")).select(
        "keep_id", F.col("doc_id").alias("dup_id")
    )


@register(
    "agg_skew_kurtosis",
    group="X",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(l_extendedprice) AS n,
           CASE WHEN COUNT(l_extendedprice) >= 3
                THEN ROUND(skewness(l_extendedprice), 4) + 0 END AS skew,
           CASE WHEN COUNT(l_extendedprice) >= 4
                THEN ROUND(kurtosis(l_extendedprice), 4) + 0 END AS kurt
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample skewness / excess kurtosis per group — the distribution-
    shape audit behind drift detection and mixture validation. Spark's
    built-ins are POPULATION moments (g1, g2); DuckDB's are SAMPLE
    statistics (G1, G2), so the op applies the standard bias
    corrections explicitly: G1 = g1*sqrt(n(n-1))/(n-2), G2 =
    ((n+1)g2 + 6)(n-1)/((n-2)(n-3)) — a convention difference that
    silently produces wrong-but-plausible numbers if ignored. Small-n
    guards mirror DuckDB returning NULL below the defined sample size
    (constant groups are NULL on both engines: 0/0 moments). One
    partial-final aggregate; moments merge map-side like any sum."""
    li = table(spark, sf_dir, "lineitem")
    n = F.count("l_extendedprice")
    nd = n.cast("double")
    g1 = F.skewness("l_extendedprice")
    g2 = F.kurtosis("l_extendedprice")
    big_g1 = g1 * F.sqrt(nd * (nd - 1)) / (nd - 2)
    big_g2 = ((nd + 1) * g2 + 6) * (nd - 1) / ((nd - 2) * (nd - 3))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        n.alias("n"),
        F.when(n >= 3, F.round(big_g1, 4) + F.lit(0)).alias("skew"),
        F.when(n >= 4, F.round(big_g2, 4) + F.lit(0)).alias("kurt"),
    )


@register(
    "text_bm25",
    group="X",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents WHERE text IS NOT NULL),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tf GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS sum_dl
              FROM dl),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w)
    SELECT tf.doc_id, tf.w AS term,
           ROUND(
             LN((CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
             * (CAST(tf.tf AS DOUBLE) * 2.2)
             / (CAST(tf.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                                / (CAST(sum_dl AS DOUBLE)
                                   / CAST(n_docs AS DOUBLE)))),
             6) AS bm25
    FROM tf JOIN dl ON tf.doc_id = dl.doc_id
    JOIN df ON tf.w = df.w, stats
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 term weights (k1=1.2, b=0.75) — the retrieval /
    quality-scoring upgrade of text_tfidf, saturating term frequency
    and normalizing by document length. Every intermediate count (tf,
    df, doc length, corpus totals) stays an exact integer until the
    final double expression, which both engines evaluate over the same
    tree — no floating aggregation order can flip the 6-dp round
    (idf uses the +1 'plus-one' smoothing so weights are strictly
    positive: no signed-zero normalization needed).

    Plan: ONE tokenize feeds everything — tf is materialized
    (localCheckpoint, the text_tfidf barrier) and then re-aggregated
    into doc lengths (sum of tf per doc — never a second corpus
    scan), document frequencies, and the 1-row corpus stats
    (broadcast-hinted — the only O(1) relation here). Doc lengths AND
    the vocabulary both grow with the corpus, so neither join carries
    a hint: the estimator broadcasts them at fixture scale and
    degrades to shuffle joins at 100 TB."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = (
        toks.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    nd = F.col("n_docs").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    avg_dl = F.col("sum_dl").cast("double") / nd
    bm25 = (
        F.log((nd - dfd + 0.5) / (dfd + 0.5) + 1.0)
        * (tfd * 2.2)
        / (tfd + 1.2 * (0.25 + 0.75 * F.col("dl").cast("double") / avg_dl))
    )
    return (
        # df is vocabulary-sized and grows with the corpus — unhinted
        # (estimator broadcasts at fixture scale); the 1-row stats
        # relation stays hinted.
        tf.join(dl, "doc_id")
        .join(df, "w")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            F.round(bm25, 6).alias("bm25"),
        )
    )


@register(
    "dedup_containment",
    group="X",
    oracle="""
    WITH toks AS (SELECT doc_id, lang, source, string_split(text, ' ') AS l
                  FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, lang, source,
             l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
      FROM toks CROSS JOIN UNNEST(generate_series(1, len(l) - 2)) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    dfreq AS (SELECT lang, source, shingle, COUNT(*) AS df
              FROM sh GROUP BY 1, 2, 3),
    rare AS (SELECT sh.doc_id, sh.lang, sh.source, sh.shingle
             FROM sh JOIN dfreq
               ON dfreq.lang = sh.lang AND dfreq.source = sh.source
              AND dfreq.shingle = sh.shingle
             WHERE dfreq.df <= 16),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_both
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id,
           ROUND(CAST(n_both AS DOUBLE) / LEAST(sa.n, sb.n), 4)
             AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_both AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.7
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT —
    max-containment C = |Sa ∩ Sb| / min(|Sa|, |Sb|) >= 0.7 — the
    Broder measure that catches quote/excerpt/superset relations
    Jaccard structurally cannot (a 100-shingle doc fully contained in
    a 10,000-shingle doc has J ~ 0.01 but C = 1.0; training corpora
    are full of exactly this: articles embedded in crawls, README
    files inside concatenated repos). contained_id names the smaller
    (contained) side, smaller doc_id on ties.

    Plan: identical bounded-candidate layout to dedup_ngram_jaccard
    (same (lang, source) blocks, same per-block df<=16 rare-shingle
    cap — per-shingle join fanout <= 256 at any corpus size; a pair
    sharing only stop-shingles is not scored, the right call when
    shared boilerplate is the noise), then exact containment on the
    FULL distinct-shingle sets of survivors via one array_intersect
    per pair — candidates join back to the per-doc shingle ARRAYS, so
    stage 2 never explodes. Division is doubles-from-exact-ints over
    a shared expression tree; min sizes >= 1 by construction."""
    from .llm import _ngram_candidates

    cand, sh_arr = _ngram_candidates(spark, sf_dir)
    fa = sh_arr.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n").alias("na"),
    )
    fb = sh_arr.select(
        F.col("doc_id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n").alias("nb"),
    )
    n_both = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    c = n_both / F.least("na", "nb").cast("double")
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("containment", c)
        .filter(F.col("containment") >= 0.7)
        .select(
            "id_a",
            "id_b",
            F.when(F.col("na") <= F.col("nb"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_id"),
            F.round("containment", 4).alias("containment"),
        )
    )


@register(
    "corpus_filter_report",
    group="X",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             COALESCE(len(string_split(text, ' ')), 0) AS n_tok,
             COALESCE(len(list_distinct(string_split(text, ' '))), 0)
               AS n_dis,
             COALESCE(len(list_filter(string_split(text, ' '),
                                      x -> regexp_matches(x, '[0-9]'))), 0)
               AS n_num,
             n_chars
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             NOT (n_tok BETWEEN 20 AND 90) AS f_len,
             NOT (n_tok > 0 AND n_dis >= 0.25 * n_tok) AS f_ttr,
             NOT (n_tok > 0 AND n_chars IS NOT NULL
                  AND CAST(n_chars AS DOUBLE) / n_tok BETWEEN 2 AND 12)
               AS f_cpt,
             NOT (n_tok > 0 AND n_num <= 0.5 * n_tok) AS f_num
      FROM m
    )
    SELECT rule, n_fail,
           CAST(COUNT(*) OVER () AS BIGINT) * 0 + total AS n_docs
    FROM (
      SELECT 'len' AS rule,
             CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
             CAST(COUNT(*) AS BIGINT) AS total FROM f
      UNION ALL
      SELECT 'ttr',
             CAST(SUM(CASE WHEN f_ttr THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(*) AS BIGINT) FROM f
      UNION ALL
      SELECT 'chars_per_token',
             CAST(SUM(CASE WHEN f_cpt THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(*) AS BIGINT) FROM f
      UNION ALL
      SELECT 'numeric_tokens',
             CAST(SUM(CASE WHEN f_num THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(*) AS BIGINT) FROM f
      UNION ALL
      SELECT 'any',
             CAST(SUM(CASE WHEN f_len OR f_ttr OR f_cpt OR f_num
                      THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(*) AS BIGINT) FROM f
    )
    """,
)
def corpus_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-RULE drop accounting for the corpus quality gate — the
    audit a CCNet/Gopher-style pipeline publishes alongside its kept
    corpus (total drop counts alone cannot tell an over-aggressive
    length band from a boilerplate flood). Four Gopher-shaped rules
    evaluated per document in ONE narrow projection (length band,
    type-token ratio, mean chars-per-token band, numeric-token
    fraction; NULL text fails every rule — an unparseable doc is
    dropped, never silently kept), then a single partial+final
    aggregate and a 5-row stack — per-rule failure counts plus the
    'any' row (docs failing at least one rule, i.e. total dropped).
    At 100 TB: one corpus scan, zero joins, the aggregate carries 4
    ints; the stack happens on 1 row."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.coalesce(F.size(toks), F.lit(0))
    n_dis = F.coalesce(F.size(F.array_distinct(toks)), F.lit(0))
    n_num = F.coalesce(
        F.size(F.expr(r"filter(split(text, ' '), x -> x rlike '[0-9]')")),
        F.lit(0),
    )
    flags = d.select(
        (~n_tok.between(20, 90)).alias("f_len"),
        (~((n_tok > 0) & (n_dis >= 0.25 * n_tok))).alias("f_ttr"),
        (
            ~(
                (n_tok > 0)
                & F.col("n_chars").isNotNull()
                & (F.col("n_chars").cast("double") / n_tok).between(2, 12)
            )
        ).alias("f_cpt"),
        (~((n_tok > 0) & (n_num <= 0.5 * n_tok))).alias("f_num"),
    )
    one = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0))  # noqa: E731
    agg = flags.agg(
        one("f_len").alias("len_f"),
        one("f_ttr").alias("ttr_f"),
        one("f_cpt").alias("cpt_f"),
        one("f_num").alias("num_f"),
        F.sum(
            F.when(
                F.col("f_len") | F.col("f_ttr") | F.col("f_cpt") | F.col("f_num"),
                1,
            ).otherwise(0)
        ).alias("any_f"),
        F.count(F.lit(1)).alias("total"),
    )
    return agg.select(
        F.expr(
            "stack(5,"
            " 'len', len_f, 'ttr', ttr_f,"
            " 'chars_per_token', cpt_f, 'numeric_tokens', num_f,"
            " 'any', any_f) AS (rule, n_fail)"
        ),
        F.col("total").alias("n_docs"),
    )


_SUBSTR_K = 8  # shingle width (tokens); a run of m flagged starts spans m+K-1
_SUBSTR_MIN = 16  # emit only verbatim cross-doc runs of >= this many tokens


def _substring_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t): each non-null document split into its tokens."""
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
    )


def _substring_spans(d: DataFrame) -> DataFrame:
    """(doc_id, isl, s, e): every maximal run of >= _SUBSTR_MIN tokens
    of ``d``'s token arrays that also occurs verbatim in another
    document, as 1-based inclusive token positions s..e. The span
    pipeline of dedup_substring and dedup_substring_apply (steps 1-3
    of dedup_substring's docstring)."""
    k = _SUBSTR_K
    # 8-gram shingles, index-free: zip_with over k shifted equal-length
    # slices (each slice is a zip_with ARGUMENT, evaluated once per
    # row — lambdas touch only lambda vars).
    shingle = f"slice(t, 1, greatest(size(t) - {k - 1}, 0))"
    for j in range(2, k + 1):
        shingle = (
            f"zip_with({shingle},"
            f" slice(t, {j}, greatest(size(t) - {k - 1}, 0)),"
            " (x, y) -> concat_ws(' ', x, y))"
        )
    pos = (
        d.select("doc_id", F.posexplode(F.expr(shingle)).alias("p0", "s"))
        .select(
            "doc_id",
            (F.col("p0") + 1).cast("long").alias("i"),  # 1-based, as oracle
            F.xxhash64("s").alias("h"),
        )
        # pos feeds the multi-doc digest aggregate AND the flag join —
        # without a barrier the 8-chained shingle build + digest runs
        # twice (2.9s -> 2.2s at sf0.1; the digest relation is 3 small
        # columns, far cheaper to materialize than to recompute).
        .localCheckpoint(eager=False)
    )
    multi = (
        pos.groupBy("h")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("h")
    )
    flagged = pos.join(multi, "h").select("doc_id", "i")
    isl = F.col("i") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("i")
    )
    return (
        flagged.withColumn("isl", isl)
        .groupBy("doc_id", "isl")
        .agg(F.min("i").alias("s"), (F.max("i") + (k - 1)).alias("e"))
        .filter(F.col("e") - F.col("s") + 1 >= _SUBSTR_MIN)
    )


@register(
    "dedup_substring",
    group="X",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents WHERE text IS NOT NULL),
    pos AS (
      SELECT doc_id, i,
             md5(array_to_string(t[i:i+{_SUBSTR_K - 1}], ' ')) AS h
      FROM d CROSS JOIN UNNEST(generate_series(1, len(t) - {_SUBSTR_K - 1}))
             AS u(i)
    ),
    multi AS (SELECT h FROM pos GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
    flag AS (SELECT p.doc_id, p.i FROM pos p JOIN multi USING (h)),
    runs AS (
      SELECT doc_id, i,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS isl
      FROM flag
    )
    SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
           CAST(MAX(i) + {_SUBSTR_K - 1} AS BIGINT) AS span_end,
           CAST(MAX(i) + {_SUBSTR_K} - MIN(i) AS BIGINT) AS span_tokens
    FROM runs GROUP BY doc_id, isl
    HAVING MAX(i) + {_SUBSTR_K} - MIN(i) >= {_SUBSTR_MIN}
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup — the suffix-array
    ("Deduplicating Training Data", ExactSubstr) modality re-expressed
    as sorted shingle runs: emit, per document, every maximal run of
    >= 16 consecutive tokens that appears VERBATIM in at least one
    other document. This is the standard final dedup pass for LLM
    corpora (templated boilerplate, quoted passages, licence blocks),
    and the one modality document-level exact/near dedup cannot see:
    two globally-distinct documents sharing a 200-token quotation are
    Jaccard-dissimilar yet still leak the quotation into training.

    Construction (identical on both engines, so the oracle is exact):
    1. k=8-token shingles at every position (index-free zip_with
       chain — an indexed lambda re-runs split() per element under
       alias substitution, the O(tokens^2) trap), xxhash64-digested
       map-side: positions shuffle (doc_id, pos, 8-byte h), never
       text (r10: was md5/32-byte hex — the narrower digest cut the
       position shuffle >4x in bytes; the ORACLE still groups by md5,
       which is exact whenever the digest is injective on the corpus'
       distinct shingles — dedup_near_recall CHECKS that property at
       fixture scale rather than assuming it). Documented divergence
       bound at production scale (ADVICE r10): at D distinct shingles
       expect ~D^2/2^65 birthday-colliding pairs — ~3e4 at D = 1e12 —
       and a false cross-doc flag ADJACENT to a real island does not
       just add one sub-threshold position: it can extend a span
       boundary or merge two islands, changing removed text for that
       document. That is a ~1e-8 fraction of spans at 100 TB; a
       pipeline requiring md5-exact parity at that scale should widen
       the shuffle key to TWO independent digests
       (xxhash64(s), xxhash64(seed, s)) — ~2^-128 collisions, 16 B,
       still 2.5x narrower than hex md5.
    2. A shingle is CROSS-DOC iff its h group spans >1 distinct doc
       (MIN != MAX over doc_id — partial-aggregated map-side, so a
       boilerplate shingle owned by a million docs folds to one row
       per partition before the shuffle). The multi-doc digest set
       joins back to positions as a plain equi-join: hot digests are
       AQE-skew-splittable, and NO broadcast hint — the digest set is
       Heaps-law corpus-proportional.
    3. Gaps-and-islands per document (pos - row_number), each island
       of m flagged starts covering m + 7 tokens; emit spans >= 16
       tokens. The island window partitions by doc_id — bounded by
       document length, never corpus-wide.

    A run shared only WITHIN one document (internal repetition) is
    deliberately not flagged — text_repetition owns intra-doc
    redundancy; this op's contract is cross-document leakage."""
    spans = _substring_spans(_substring_docs(spark, sf_dir))
    return spans.select(
        "doc_id",
        F.col("s").cast("long").alias("span_start"),
        F.col("e").cast("long").alias("span_end"),
        (F.col("e") - F.col("s") + 1).cast("long").alias("span_tokens"),
    )


_AHASH_HAM = 5  # max Hamming distance (of 64 bits) to call a pair near-dup
_BAND_NBR = 16  # rank-neighborhood cap inside one band bucket


def _banded_hamming_pairs(stacked: DataFrame, ham: int) -> DataFrame:
    """(id_a, id_b, hamming): the banded-rank Hamming pairing of
    dedup_phash and dedup_ahash. ``stacked`` holds one row per
    (doc_id, band_no) with the doc's 4 band values b0..b3 and that
    band's value bv. Within each (band_no, bv) bucket, docs are ranked
    by doc_id and every pair <= _BAND_NBR ranks apart is compared on
    all four bands (rank-bucket ``rn DIV _BAND_NBR`` two-sided explode,
    O(2 x _BAND_NBR) joined rows per doc and band); pairs within
    ``ham`` bits are kept, once each."""
    ranked = stacked.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("band_no", "bv").orderBy("doc_id")
        ),
        # Materialization barrier: ranked feeds BOTH sides of the pair
        # join; without it the whole signature pipeline executes twice
        # (4 scans of documents in dedup_ahash's r10 before-plan;
        # dedup_phash A/B'd 1.34s with the barrier vs 1.68s). 4 small
        # ints per (doc, band) — tiny at any scale.
    ).localCheckpoint(eager=False)
    nbr = _BAND_NBR
    a = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.col("b0").alias("a0"), F.col("b1").alias("a1"),
        F.col("b2").alias("a2"), F.col("b3").alias("a3"),
        "band_no", "bv", F.col("rn").alias("rn_a"),
    )
    b = ranked.select(
        F.col("doc_id").alias("id_b"),
        F.col("b0").alias("c0"), F.col("b1").alias("c1"),
        F.col("b2").alias("c2"), F.col("b3").alias("c3"),
        F.col("band_no").alias("band_b"), F.col("bv").alias("bv_b"),
        F.col("rn").alias("rn_b"),
    )
    dist = (
        F.bit_count(F.col("a0").bitwiseXOR(F.col("c0")))
        + F.bit_count(F.col("a1").bitwiseXOR(F.col("c1")))
        + F.bit_count(F.col("a2").bitwiseXOR(F.col("c2")))
        + F.bit_count(F.col("a3").bitwiseXOR(F.col("c3")))
    )
    return (
        band_join(
            a,
            b,
            (F.col("band_no") == F.col("band_b")) & (F.col("bv") == F.col("bv_b")),
            nbr,
        )
        .select("id_a", "id_b", dist.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= ham)
        .distinct()
    )




@register(
    "dedup_ahash",
    group="X",
    oracle=f"""
    WITH hx AS (SELECT doc_id, hex(encode(text)) AS h
                FROM documents WHERE text IS NOT NULL),
    px AS (
      SELECT doc_id, j, ascii(substr(h, 2*j+1, 1)) AS p
      FROM hx CROSS JOIN UNNEST(generate_series(0, 63)) AS g(j)
      WHERE 2*j+1 <= len(h)
    ),
    st AS (SELECT doc_id, COUNT(*) AS m, SUM(p) AS s FROM px GROUP BY doc_id),
    bands AS (
      SELECT px.doc_id, j // 16 AS band_no,
             CAST(SUM(CASE WHEN p * m > s THEN 1 << (j % 16) ELSE 0 END)
                  AS BIGINT) AS band_val
      FROM px JOIN st USING (doc_id) GROUP BY px.doc_id, j // 16
    ),
    sig AS (
      SELECT doc_id,
        CAST(COALESCE(SUM(CASE WHEN band_no=0 THEN band_val END),0) AS BIGINT) AS b0,
        CAST(COALESCE(SUM(CASE WHEN band_no=1 THEN band_val END),0) AS BIGINT) AS b1,
        CAST(COALESCE(SUM(CASE WHEN band_no=2 THEN band_val END),0) AS BIGINT) AS b2,
        CAST(COALESCE(SUM(CASE WHEN band_no=3 THEN band_val END),0) AS BIGINT) AS b3
      FROM bands GROUP BY doc_id
    ),
    stacked AS (
      SELECT doc_id, b0, b1, b2, b3, band_no,
             CASE band_no WHEN 0 THEN b0 WHEN 1 THEN b1
                          WHEN 2 THEN b2 ELSE b3 END AS bv
      FROM sig CROSS JOIN UNNEST(generate_series(0, 3)) AS g(band_no)
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY band_no, bv
                                   ORDER BY doc_id) AS rn
      FROM stacked
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
                AS BIGINT) AS hamming
    FROM ranked a JOIN ranked b
      ON a.band_no = b.band_no AND a.bv = b.bv
     AND b.rn - a.rn >= 1 AND b.rn - a.rn <= {_BAND_NBR}
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        <= {_AHASH_HAM}
    """,
)
def dedup_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup (aHash): the multimodal analog of
    dedup_exact — near-identical IMAGES (re-encodes, thumbnails, minor
    edits) produce nearly-equal average-hash signatures, caught by
    banded Hamming pairing. The classic aHash recipe: downsample to a
    fixed pixel grid, threshold each pixel against the image mean, and
    compare 64-bit signatures by Hamming distance.

    The fixture ships no real media, so the "image" is the family's
    stand-in blob — the HEX rendition of the text bytes (pure ASCII,
    so byte offsets equal char offsets on ANY corpus; see
    mm_frame_sample) — and the "pixel grid" is mm_resize's stride-2
    64-byte thumbnail of the first 128 blob bytes. Unlike
    dedup_simhash (Python sketch, rows-only), every step here is
    integer arithmetic both engines express, so the op is EXACTLY
    oracled: pixel*count > sum thresholds the mean without division
    (the scale-invariant-compare pattern), band values are 16-bit
    integer sums, Hamming is bit_count over XOR. A production decoder
    swaps the hex stand-in for real grayscale bytes; nothing else
    moves.

    Scale shape: signatures are 4 small ints per doc (one groupBy over
    64 pixel rows per doc — linear, map-side partial); pairing is the
    dedup_near rank-neighborhood pattern — band value IN the equi-join
    key, rank-bucket (rn DIV 16) two-sided explode so a mass-duplicate
    pile chains transitively at O(16H) joined rows per bucket instead
    of H^2; ranks here are doc_id-ordered (not per-band-hashed like
    dedup_near) because the oracle must reproduce them exactly. The
    cost of that determinism: for an identical-signature pile, bucket
    membership and rank order are the SAME in all 4 bands, so the 4
    draws are fully correlated — a >16-ranks-apart pile pair is found
    only by transitive chaining through its rank neighbors (which the
    pile law test pins). The bands act as independent draws only when
    their bucket values differ, i.e. for hamming 1-5 near-dup pairs.
    Threshold: hamming <= 5 of 64 — the sf fixtures separate planted
    near-dups (0-5) from the word-soup background (>= 6) cleanly."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.hex(F.encode("text", "UTF-8")).alias("h"))
    )
    px = (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("j"),
            "h",
        )
        .filter(F.expr("2*j+1 <= length(h)"))
        .select(
            "doc_id",
            "j",
            F.expr("ascii(substr(h, 2*j+1, 1))").alias("p"),
        )
    )
    # Per-doc (m, s) as a WINDOW over px, not groupBy + join-back: one
    # hash exchange of px by doc_id replaces the r9 shape's aggregate
    # exchange + join exchange AND stops px's scan+explode executing
    # once per branch (r10; the downstream groupBys then reuse the
    # doc_id partitioning — zero further exchanges until the band
    # window). Same integer arithmetic, same rows.
    wdoc = Window.partitionBy("doc_id")
    pxm = px.withColumn("m", F.count(F.lit(1)).over(wdoc)).withColumn(
        "s", F.sum("p").over(wdoc)
    )
    bands = (
        pxm.groupBy("doc_id", F.expr("j DIV 16").alias("band_no"))
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN p * m > s"
                    " THEN shiftleft(1, j % 16) ELSE 0 END"
                )
            )
            .cast("long")
            .alias("band_val")
        )
    )
    one = lambda i: F.coalesce(  # noqa: E731
        F.sum(F.when(F.col("band_no") == i, F.col("band_val"))), F.lit(0)
    ).cast("long")
    sig = bands.groupBy("doc_id").agg(
        one(0).alias("b0"), one(1).alias("b1"),
        one(2).alias("b2"), one(3).alias("b3"),
    )
    stacked = sig.select(
        "doc_id", "b0", "b1", "b2", "b3",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band_no"),
    ).withColumn(
        "bv",
        F.expr(
            "CASE band_no WHEN 0 THEN b0 WHEN 1 THEN b1"
            " WHEN 2 THEN b2 ELSE b3 END"
        ),
    )
    return _banded_hamming_pairs(stacked, _AHASH_HAM)


@register(
    "dedup_substring_apply",
    group="X",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents WHERE text IS NOT NULL),
    pos AS (
      SELECT doc_id, i,
             md5(array_to_string(t[i:i+{_SUBSTR_K - 1}], ' ')) AS h
      FROM d CROSS JOIN UNNEST(generate_series(1, len(t) - {_SUBSTR_K - 1}))
             AS u(i)
    ),
    multi AS (SELECT h FROM pos GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
    flag AS (SELECT p.doc_id, p.i FROM pos p JOIN multi USING (h)),
    runs AS (
      SELECT doc_id, i,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS isl
      FROM flag
    ),
    spans AS (
      SELECT doc_id, MIN(i) AS s, MAX(i) + {_SUBSTR_K - 1} AS e
      FROM runs GROUP BY doc_id, isl
      HAVING MAX(i) + {_SUBSTR_K} - MIN(i) >= {_SUBSTR_MIN}
    ),
    cov AS (SELECT doc_id, u.p
            FROM spans CROSS JOIN UNNEST(generate_series(s, e)) AS u(p)),
    toks AS (SELECT doc_id, u.i AS i, t[u.i] AS tok
             FROM d CROSS JOIN UNNEST(generate_series(1, len(t))) AS u(i)),
    kept AS (
      SELECT toks.doc_id, toks.i, toks.tok
      FROM toks ANTI JOIN cov
        ON toks.doc_id = cov.doc_id AND toks.i = cov.p
    ),
    agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(agg.clean_text, '') AS clean_text,
           CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(d.t) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed
    FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """,
)
def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL pass over dedup_substring's spans — what an
    ExactSubstr pipeline actually ships: every token covered by a
    cross-document verbatim run >= 16 tokens is cut from EVERY copy
    ("Deduplicating Training Data" removes all occurrences; the
    content survives elsewhere in the corpus by construction), and the
    document is re-emitted with its clean text plus kept/removed
    accounting. A fully-duplicated document comes back as an empty
    string with n_kept = 0 — the downstream length gate
    (corpus_filter_report's rules) then drops it.

    Construction: the span pipeline is dedup_substring's own
    (``_substring_spans``: one digest shuffle, islands per doc); the
    removal is position-level —
    explode spans to covered positions (islands are disjoint, so this
    is <= one row per token), posexplode tokens (a generator, NOT an
    indexed lambda — an index-free guarantee no alias substitution can
    break), LEFT ANTI join on (doc_id, position), and an ordered
    reconstruction via a struct-sorted per-document token list.
    Everything shuffles by doc_id — linear, skew-bounded by document
    length."""
    d = _substring_docs(spark, sf_dir)
    spans = _substring_spans(d)
    # Removal is DOC-level, not token-level (r10): spans collapse to a
    # small per-doc array, one join attaches them to the token arrays,
    # and covered tokens are cut with in-array HOFs. The r9 shape
    # posexploded every corpus token and shipped it through a
    # positional anti-join plus a collect_list+sort-of-structs
    # reconstruction — two TOKEN-level corpus shuffles where compact
    # per-row arrays suffice (the 10x census had this op as its
    # wall-clock maximum). The groupBy below still merges physical
    # COPIES of a doc_id (at-least-once delivery; the oracle's toks
    # CTE spans all copies — production-shard-pinned semantics), but
    # it now shuffles one kept-token array per row instead of one row
    # per token, and array_sort over (i, tok) structs reproduces the
    # old sorted interleave exactly. Per-token span scan is bounded by
    # spans-per-doc <= len/16 — document-length-bounded, like the
    # island window it replaces.
    sp_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("sp")
    )
    per_row = d.join(sp_arr, "doc_id", "left").select(
        "doc_id",
        F.expr(
            "filter(transform(t, (tok, j0) ->"
            " struct(CAST(j0 + 1 AS BIGINT) AS i, tok AS tok)),"
            " p -> sp IS NULL OR NOT coalesce("
            "exists(sp, r -> r.s <= p.i AND p.i <= r.e), false))"
        ).alias("kept"),
    )
    agg = (
        per_row.groupBy("doc_id")
        .agg(F.expr("array_sort(flatten(collect_list(kept)))").alias("flat"))
        .select(
            "doc_id",
            F.expr("array_join(transform(flat, p -> p.tok), ' ')").alias(
                "clean_text"
            ),
            F.size("flat").cast("long").alias("n_kept"),
        )
    )
    base = d.select("doc_id", F.size("t").cast("long").alias("n_tok"))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_tok") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )
