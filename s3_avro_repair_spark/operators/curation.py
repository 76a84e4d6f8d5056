"""X group (round 9) — corpus-curation operators.

Operators a 100 TB training-data pipeline runs between raw crawl and
tokenizer: interpolated bigram-LM quality scoring (the KenLM-style
filter one step beyond text_perplexity_unigram), temperature-scaled
mixture resampling (the mT5/CC multilingual balancing pass), DCT-based
perceptual image dedup (pHash — the brightness-invariant upgrade of
dedup_ahash), SemDeDup-style cluster-scoped embedding dedup, classical
additive seasonal decomposition (the metrics-pipeline pre-alerting
pass), and crawl URL canonicalization dedup. Every op is a declarative
DataFrame plan (zero Python in the row path) with an exact DuckDB
oracle.

Registered LAST in plans/registry._OP_MODULES: new keys are
never-attested and must sort behind every key still waiting for (or
floated back into) the attestation window.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import band_join
from ..plans.registry import register
from ..tables import table
from .extensions import _BAND_NBR, _banded_hamming_pairs
from .graph import _int8_codes, _lloyd_two_rounds

# ---------------------------------------------------------------------------
# text_perplexity_bigram


@register(
    "text_perplexity_bigram",
    group="X",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents WHERE text IS NOT NULL),
    tok AS (SELECT doc_id, unnest(t) AS w FROM d),
    uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM uc),
    big AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM d CROSS JOIN UNNEST(generate_series(1, len(t) - 1)) u(i)),
    bgc AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
            FROM big GROUP BY doc_id, w1, w2),
    bc AS (SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS cb
           FROM bgc GROUP BY w1, w2)
    SELECT bgc.doc_id,
           CAST(SUM(k) AS BIGINT) AS n_bigrams,
           ROUND(SUM(k * -LN(0.75 * cb / CAST(up.c AS DOUBLE)
                             + 0.25 * uw.c / CAST(n.total AS DOUBLE)))
                 / SUM(k), 4) + 0 AS xent
    FROM bgc
    JOIN bc ON bc.w1 = bgc.w1 AND bc.w2 = bgc.w2
    JOIN uc up ON up.w = bgc.w1
    JOIN uc uw ON uw.w = bgc.w2, n
    GROUP BY bgc.doc_id
    """,
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM cross-entropy per document — the
    KenLM-shaped quality score one order above text_perplexity_unigram:
    p(w2 | w1) = 0.75 * c(w1 w2)/c(w1) + 0.25 * c(w2)/N
    (Jelinek-Mercer mixing; the unigram term makes every probability
    positive, so no discounting bookkeeping is needed while the bigram
    term still separates fluent text from shuffled-word soup the
    unigram score cannot see). Documents need >= 2 tokens to score.

    Scale shape: ONE tokenize feeds everything. Bigram occurrences
    collapse to per-document (w1, w2, k) counts BEFORE any join (a doc
    repeating a bigram pays one join row), the global bigram relation
    is an aggregate OF that relation (no second corpus pass), and the
    per-doc relation is checkpointed so its three count joins —
    bigram, left-word, right-word — don't re-run the tokenize per
    branch (the r6 materialization-barrier pattern). All three joins
    key on vocabulary tokens — Heaps-law growth, so none is broadcast-
    hinted (the r7 audit rule); the 1-row corpus total is. Per-doc
    aggregation shuffles (doc_id, k, -k ln p) doubles only; text never
    crosses the wire. Rounded 4dp: cross-engine drift is libm LN ulps
    and summation order (~1e-12 relative)."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    tok = d.select("doc_id", F.explode("t").alias("w"))
    uc = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    uc = uc.localCheckpoint(eager=False)
    total = uc.agg(F.sum("c").cast("long").alias("total"))
    # Index-free bigram build (the O(tokens^2) substitution trap rules
    # out transform-over-indices): zip the token array with its own
    # 1-shifted slice.
    pairs = F.expr(
        "zip_with(slice(t, 1, greatest(size(t) - 1, 0)),"
        " slice(t, 2, greatest(size(t) - 1, 0)),"
        " (x, y) -> named_struct('w1', x, 'w2', y))"
    )
    bgc = (
        d.select("doc_id", F.explode(pairs).alias("s"))
        .select("doc_id", F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .localCheckpoint(eager=False)
    )
    bc = bgc.groupBy("w1", "w2").agg(F.sum("k").cast("long").alias("cb"))
    up = uc.select(F.col("w").alias("w1"), F.col("c").alias("cp"))
    uw = uc.select(F.col("w").alias("w2"), F.col("c").alias("cu"))
    scored = (
        bgc.join(bc, ["w1", "w2"])
        .join(up, "w1")
        .join(uw, "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "nll",
            F.expr(
                "k * -LN(0.75 * cb / CAST(cp AS DOUBLE)"
                " + 0.25 * cu / CAST(total AS DOUBLE))"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_bigrams"),
        (F.round(F.sum("nll") / F.sum("k"), 4) + F.lit(0)).alias("xent"),
    )


# ---------------------------------------------------------------------------
# corpus_sample_temperature

_TEMP_ALPHA = 0.3  # mixture temperature: share^alpha, the mT5 default
_U_DEN = "281474976710657.0"  # 2^48 + 1 -> u in [0, 1)


@register(
    "corpus_sample_temperature",
    group="X",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL),
    lc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY lang),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM lc),
    r AS (SELECT lang, c,
                 POWER(c / CAST(total AS DOUBLE), {_TEMP_ALPHA - 1}) AS boost
          FROM lc, n),
    k AS (SELECT lang,
                 FLOOR(boost / (SELECT MAX(boost) FROM r) * 1000000 + 0.5)
                   / 1000000 AS keep_rate
          FROM r)
    SELECT d.doc_id, d.lang, k.keep_rate
    FROM d JOIN k USING (lang)
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12))
               AS UBIGINT) / {_U_DEN} < k.keep_rate
    """,
)
def corpus_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture resampling — the multilingual
    balancing pass (mT5 / CC-style): resample so language l's corpus
    share p_l moves toward p_l^alpha (alpha = 0.3 here), boosting
    low-resource languages relative to the head. Deterministic
    subsampling realizes it without an RNG: each language keeps
    rate k_l = (p_l^(alpha-1)) / max_m(p_m^(alpha-1)) — the rarest
    language keeps 100%, the head is thinned — and a document is kept
    iff its md5-derived u in [0,1) falls under its language's rate
    (the A-ES u-trick, sample_hash_det's discipline: re-running the
    pass on the same corpus keeps the same documents).

    Scale shape: one scan for the per-language counts (map-side
    partial, #langs rows out), the keep-rate relation is language-
    inventory-sized — corpus-INDEPENDENT (bounded by the world's
    language codes, like nation/region), so its attach join is
    legitimately broadcast-hinted — and the filter runs in the scan's
    own stage: corpus rows never shuffle. Keep rates are floor-rounded
    to 6dp with the shared floor(x*1e6+0.5) tree on both engines; u
    has 48-bit resolution, so a libm POWER ulp cannot flip a keep
    decision unless the rounded rate itself moves (a ~1e-16-wide
    boundary on a #langs-sized relation)."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull())
        .select("doc_id", "lang")
    )
    lc = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # Corpus total and max boost as EMPTY-partition windows over the
    # #langs-row relation, not separate .agg() branches: each branch
    # would re-run the corpus count shuffle (plan-level re-execution,
    # the r6 materialization lesson), while the windows cost one
    # single-partition exchange of #langs rows.
    w = Window.partitionBy()
    k = (
        lc.withColumn("total", F.sum("c").over(w).cast("long"))
        .withColumn(
            "boost",
            F.expr(f"POWER(c / CAST(total AS DOUBLE), {_TEMP_ALPHA - 1})"),
        )
        .withColumn("maxb", F.max("boost").over(w))
        .withColumn(
            "keep_rate",
            F.expr("FLOOR(boost / maxb * 1000000 + 0.5) / 1000000"),
        )
        .select("lang", "keep_rate")
    )
    u = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10)"
        f" AS DOUBLE) / {_U_DEN}"
    )
    return (
        d.join(F.broadcast(k), "lang")
        .filter(u < F.col("keep_rate"))
        .select("doc_id", "lang", "keep_rate")
    )


# ---------------------------------------------------------------------------
# dedup_phash

# DCT-II basis, fixed-point: C[u][x] = round(cos(pi*(2x+1)u/16) * 2^13),
# flattened row-major — generated, then inlined as the SAME literal
# table in the Spark plan and the DuckDB oracle (exact integer parity).
_DCT = [
    round(math.cos(math.pi * (2 * x + 1) * u / 16) * 8192)
    for u in range(8)
    for x in range(8)
]
_DCT_SQL = "[" + ", ".join(str(c) for c in _DCT) + "]"
_DCT_SPARK = "array(" + ", ".join(str(c) for c in _DCT) + ")"
_PHASH_HAM = 8  # max Hamming distance (of 63 AC bits) to call a near-dup


@register(
    "dedup_phash",
    group="X",
    oracle=f"""
    WITH hx AS (SELECT doc_id, hex(encode(text)) AS h
                FROM documents WHERE text IS NOT NULL),
    px AS (
      SELECT doc_id, j,
             CASE WHEN 2*j+1 <= len(h)
                  THEN ascii(substr(h, 2*j+1, 1)) ELSE 0 END AS p
      FROM hx CROSS JOIN UNNEST(generate_series(0, 63)) g(j)
    ),
    rowt AS (
      SELECT doc_id, u, j // 8 AS y,
             CAST(SUM(CAST(p AS BIGINT)
                      * ({_DCT_SQL})[8*u + (j % 8) + 1]) AS BIGINT) AS gv
      FROM px CROSS JOIN UNNEST(generate_series(0, 7)) gu(u)
      GROUP BY doc_id, u, j // 8
    ),
    coef AS (
      SELECT doc_id, u, v,
             CAST(SUM(gv * ({_DCT_SQL})[8*v + y + 1]) AS BIGINT) AS f
      FROM rowt CROSS JOIN UNNEST(generate_series(0, 7)) gv2(v)
      GROUP BY doc_id, u, v
    ),
    fx AS (SELECT doc_id, u*8 + v - 1 AS idx, f
           FROM coef WHERE NOT (u = 0 AND v = 0)),
    med AS (SELECT doc_id, list_sort(list(f))[32] AS med
            FROM fx GROUP BY doc_id),
    bands AS (
      SELECT fx.doc_id, idx // 16 AS band_no,
             CAST(SUM(CASE WHEN f > med THEN 1 << (idx % 16) ELSE 0 END)
                  AS BIGINT) AS band_val
      FROM fx JOIN med USING (doc_id) GROUP BY fx.doc_id, idx // 16
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
      FROM sig CROSS JOIN UNNEST(generate_series(0, 3)) g(band_no)
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
        <= {_PHASH_HAM}
    """,
)
def dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup (pHash): the DCT upgrade of dedup_ahash.
    aHash thresholds raw pixels against the image MEAN, so any uniform
    brightness/contrast shift moves every bit at once; pHash transforms
    the pixel grid with an 8x8 DCT-II first and thresholds the 63 AC
    coefficients against their median — the DC (brightness) coefficient
    is dropped and the signature depends only on the image's frequency
    STRUCTURE. The classic recipe (pHash.org), here in fixed-point
    integer arithmetic end to end so the oracle is EXACT: basis
    C[u][x] = round(cos(pi(2x+1)u/16) * 2^13) inlined as the same
    64-literal table in both engines, separable two-stage transform
    (rows then columns — 2x8 sums per coefficient, never the 64-term
    double loop), median = element 32 of the sorted 63 (odd count, no
    interpolation), bits packed into the same 4 x 16-bit band ints as
    dedup_ahash. |F| <= 64 * 255 * 2^26 — BIGINT-safe with headroom.

    The "image" is the family's hex-rendition stand-in and the pixel
    grid the stride-2 thumbnail, exactly as dedup_ahash (swap a real
    grayscale decoder in production; nothing else moves).

    Pairing is dedup_ahash's banded rank-neighborhood verbatim: band
    value IN the equi-join key, rank-bucket (rn DIV 16) two-sided
    explode, <= 4 x 16 x 2 joined rows per doc, identical-signature
    piles chain transitively (the pile law). Threshold: hamming <= 8
    of 63 — on the fixtures planted near-dups land at 0-8 and the
    word-soup background starts at 12 (measured nearest-neighbor
    histogram; the 4-band split catches 35/35 planted pairs with a
    ~3e-4 background band-collision rate)."""
    # Only hex positions 1..127 (the 64 stride-2 pixels) are ever
    # read, so only that PREFIX crosses the wire (~127 B/row, vs the
    # r10 shape's 512 exploded rows at ~10 KB/doc).
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.expr("substr(hex(encode(text, 'UTF-8')), 1, 127)").alias("hh"),
        )
    )
    # The whole 8x8 integer DCT is PER-DOCUMENT arithmetic over exactly
    # 64 pixels, so the signature is computed IN-ROW (r11): the r10
    # shape exploded 512 rows/doc through TWO aggregation exchanges
    # (rowt by (doc,u,y), coef by (doc,u,v)), joined the median back,
    # and re-aggregated bands+sig — 4 exchanges plus a broadcast join
    # before the band window. Now the hex prefixes of a doc_id's
    # physical copies meet through ONE doc_id exchange, copies merge by
    # ELEMENT-WISE pixel sum — the DCT is linear in the pixels, so
    # this is EXACTLY the oracle's doc_id-grouped rowt sums over all
    # copies' rows (production-shard copy-merge semantics, pinned by
    # test_production_shard) — and the whole transform chain runs
    # in-row on the merged pixels, post-exchange. Same fixed-point
    # arithmetic on the same 64-literal basis table, same integer sums
    # (addition order is irrelevant for exact integers), same
    # median-of-63 — the DuckDB oracle text is UNCHANGED and exact.
    #
    # Form notes, all measured this round (OPTIMIZATION_r11.md):
    # - Intermediates (px, g, f, med) are LAMBDA-BOUND via
    #   transform(array(<expr>), var -> ...)[1], never column aliases:
    #   CollapseProject inlines a once-referenced alias into its
    #   consumer, and an array expression substituted into element_at
    #   inside a lambda is RE-EVALUATED per call — the px->g->f chain
    #   then costs (64*8)^depth per row instead of 64*8 per stage
    #   (measured: minutes at sf0.01). A lambda variable is an
    #   evaluated VALUE; no rule substitutes past the binder.
    # - A fully-unrolled scalar-column form (64+64+63 flat columns,
    #   codegen-friendly) executed 2x faster per row but paid 3-8s of
    #   DRIVER ANALYSIS per plan build (wide Projects re-analyzed per
    #   chained select) — the HOF form's whole expression tree is a
    #   few hundred nodes, so analysis is milliseconds.
    # - The copies meet as collected hex STRINGS, not pixel arrays:
    #   collect_list of an array-typed column costs ~1.4s of PHYSICAL
    #   PLANNING per build (vs 0.26s for strings, measured), and the
    #   string prefix is the pixel vector already (stride-2 ascii).
    # - The exchange is an EXPLICIT repartition(4 x defaultParallelism,
    #   doc_id) the groupBy reuses (no second shuffle): with the
    #   groupBy's own exchange, AQE correctly coalesces the fixture's
    #   ~7 MB of shuffle bytes to ONE partition and the in-row DCT
    #   serializes (measured 2.0-2.7s vs 0.68s). Cluster-derived, not
    #   data-derived — the udtf_apply_in_pandas r10 convention.
    merged = (
        d.repartition(
            4 * spark.sparkContext.defaultParallelism, "doc_id"
        )
        .groupBy("doc_id")
        .agg(F.collect_list("hh").alias("hs"))
    )
    # merged pixel j = sum over copies of ascii(hex char at 2j+1)
    # (2j+1 <= 127 for every j <= 63, so the prefix is lossless)
    px_e = (
        "transform(sequence(0, 63), j -> aggregate(hs, 0L, (a, hh) ->"
        " a + IF(2*j+1 <= length(hh),"
        " CAST(ascii(substr(hh, 2*j+1, 1)) AS BIGINT), 0L)))"
    )
    # separable DCT, rows pass: g[8u+y] = sum_x px[8y+x] * C[8u+x]
    g_e = (
        "transform(sequence(0, 63), n -> aggregate(sequence(0, 7), 0L,"
        " (acc, x) -> acc + CAST(element_at(px, 8*(n % 8) + x + 1) AS BIGINT)"
        f" * element_at({_DCT_SPARK}, CAST(8*(n DIV 8) + x + 1 AS INT))))"
    )
    # columns pass: f[8u+v] = sum_y g[8u+y] * C[8v+y]
    f_e = (
        "transform(sequence(0, 63), m -> aggregate(sequence(0, 7), 0L,"
        " (acc, y) -> acc + element_at(g, CAST(8*(m DIV 8) + y + 1 AS INT))"
        f" * element_at({_DCT_SPARK}, 8*(m % 8) + y + 1)))"
    )
    # 63 AC coefficients are f[2..64] (1-based m = u*8+v >= 1, skipping
    # DC m=0); idx = m-1, so element_at(f, idx + 2). Median = element 32
    # of the ascending sort of all 63, exactly as the old
    # sort_array(collect_list(f))[32]. Band 3 holds only 15 AC bits
    # (idx 48..62) — the idx <= 62 guard mirrors the old bands
    # relation, which simply had no idx-63 row.
    med_e = "element_at(array_sort(slice(f, 2, 63)), 32)"
    band_e = (
        "aggregate(sequence(0, 15), 0L, (acc, t) ->"
        " acc + CASE WHEN 16*{i} + t <= 62"
        " AND element_at(f, 16*{i} + t + 2) > med"
        " THEN CAST(shiftleft(1, t) AS BIGINT) ELSE 0L END)"
    )
    bands_e = "array(" + ", ".join(
        band_e.format(i=i) for i in range(4)
    ) + ")"
    sig_e = (
        f"element_at(transform(array({px_e}), px ->"
        f" element_at(transform(array({g_e}), g ->"
        f" element_at(transform(array({f_e}), f ->"
        f" element_at(transform(array({med_e}), med ->"
        f" {bands_e}), 1)), 1)), 1)), 1)"
    )
    # Checkpoint the signature relation itself (doc_id + one 4-long
    # array per doc — tiny at any scale): the optimizer's fixed-point
    # iterations re-canonicalize the big lambda tree once per
    # downstream rule pass, so leaving sig inline costs SECONDS of
    # driver planning per build (measured 3.7s at the stacked step);
    # behind the barrier the downstream plan sees Scan ExistingRDD.
    sig = merged.select("doc_id", F.expr(sig_e).alias("bs")).localCheckpoint(
        eager=False
    )
    # posexplode(bs) IS the old explode(sequence(0,3)) + CASE picker:
    # band_no = pos, bv = bs[pos]; b0..b3 are cheap element_at lookups
    # on the already-evaluated array AFTER the Generate.
    stacked = sig.select(
        "doc_id", "bs", F.posexplode("bs").alias("band_no", "bv")
    ).select(
        "doc_id",
        F.expr("element_at(bs, 1)").alias("b0"),
        F.expr("element_at(bs, 2)").alias("b1"),
        F.expr("element_at(bs, 3)").alias("b2"),
        F.expr("element_at(bs, 4)").alias("b3"),
        "band_no", "bv",
    )
    return _banded_hamming_pairs(stacked, _PHASH_HAM)


# ---------------------------------------------------------------------------
# dedup_semantic

_SEM_K = 8  # Lloyd centroids (fixed for the exact oracle; see docstring)
_SEM_NBR = 16  # rank-neighborhood cap inside one cluster
_SEM_TAU = 0.35  # cosine threshold (the dedup_embedding_cosine dial)

_SEM_ORACLE = f"""
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
    c0 AS (SELECT vec_id AS cid, v AS c FROM q WHERE vec_id < {_SEM_K}),
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
    r AS (
      SELECT vec_id, v, cid,
             ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rn
      FROM a2
    ),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cid AS cluster_id,
             (SELECT SUM(CAST(a.v[i] AS BIGINT) * b.v[i])
              FROM generate_series(1, 64) g(i)) AS dot,
             (SELECT SUM(CAST(a.v[i] AS BIGINT) * a.v[i])
              FROM generate_series(1, 64) g(i)) AS na2,
             (SELECT SUM(CAST(b.v[i] AS BIGINT) * b.v[i])
              FROM generate_series(1, 64) g(i)) AS nb2
      FROM r a JOIN r b
        ON a.cid = b.cid AND b.rn - a.rn >= 1 AND b.rn - a.rn <= {_SEM_NBR}
    )
    SELECT DISTINCT id_a, id_b, CAST(cluster_id AS BIGINT) AS cluster_id,
           ROUND(dot / (SQRT(CAST(na2 AS DOUBLE)) * SQRT(CAST(nb2 AS DOUBLE))),
                 4) AS cosine
    FROM cand
    WHERE na2 > 0 AND nb2 > 0
      AND dot / (SQRT(CAST(na2 AS DOUBLE)) * SQRT(CAST(nb2 AS DOUBLE)))
          >= {_SEM_TAU}
"""


@register("dedup_semantic", group="X", oracle=_SEM_ORACLE)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with k-means, then
    look for near-duplicate pairs ONLY among items close within their
    cluster — the clustering replaces the quadratic all-pairs scan
    with per-cluster neighborhoods, the way the paper prunes LAION.

    Construction reuses the engine's exact-arithmetic building blocks:
    kmeans_quantized's integer Lloyd (int8 quantization, integer
    squared distances, floor-divide centroid updates; k = 8, 2 rounds,
    smallest-ids init — k is FIXED so the oracle can unroll the
    rounds into chained CTEs; production derives k from corpus size
    like sim_ann_ivf's n/5000 and the plan shape is k-independent),
    then ranks each cluster by (distance to final centroid, vec_id)
    and pairs rank neighbors <= 16 apart — embeddings of
    near-duplicates sit at near-equal centroid distance, so the rank
    window is where they meet (and identical vectors chain
    transitively, the dedup_near pile law). Pair cosine is computed on
    the QUANTIZED codes — all-integer dot and norms, one IEEE sqrt
    each side — so the oracle is exact; threshold 0.35 (the
    dedup_embedding_cosine dial; the synthetic embeddings' related
    pairs land 0.35-0.5, background < 0.3).

    Scale shape: assignment broadcasts k tiny centroids against the
    vector scan (never a vector shuffle); the rank window shuffles
    (cid, d2) once; the pair join is rank-bucketed (bkt DIV 16
    two-sided explode) — <= 2 x 16 joined rows per vector at any
    corpus size. The Lloyd relation is checkpointed: the window and
    both join sides would otherwise re-run the whole iteration
    pipeline per branch."""
    # Materialization barrier (r10): q feeds the init centroids,
    # every Lloyd round's assignment stream AND each round's
    # centroid-update subtree — without it the scan + double-cast
    # + quantize transform re-runs ~4x inside the ranked
    # checkpoint's one materialization (3.0-3.4s -> 2.7s at
    # sf0.1). One int8-code row per vector — tiny at any scale.
    q = _int8_codes(table(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=False
    )
    assign, _ = _lloyd_two_rounds(q, _SEM_K)
    ranked = (
        assign.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cid").orderBy("d2", "vec_id")
            ),
        )
        .withColumn(
            "n2",
            F.expr(
                "aggregate(transform(v, x -> CAST(x AS BIGINT) * x),"
                " 0L, (a, x) -> a + x)"
            ),
        )
        .select("vec_id", "v", "cid", "rn", "n2")
        .localCheckpoint(eager=False)
    )
    nbr = _SEM_NBR
    a = ranked.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        "cid", F.col("rn").alias("rn_a"), F.col("n2").alias("na2"),
    )
    b = ranked.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("cid").alias("cid_b"), F.col("rn").alias("rn_b"),
        F.col("n2").alias("nb2"),
    )
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> CAST(x AS BIGINT) * y),"
        " 0L, (a, x) -> a + x)"
    )
    cos = F.expr(
        "dot / (SQRT(CAST(na2 AS DOUBLE)) * SQRT(CAST(nb2 AS DOUBLE)))"
    )
    return (
        band_join(a, b, F.col("cid") == F.col("cid_b"), nbr)
        .withColumn("dot", dot)
        # Zero-norm guard: finite inputs always quantize to norm
        # >= 127^2, but a nonfinite embedding can quantize to all
        # zeros — an unguarded ANSI division then aborts the job
        # (nonfinite-doubles sweep). Both engines drop such rows
        # identically.
        .filter((F.col("na2") > 0) & (F.col("nb2") > 0))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= _SEM_TAU)
        .select(
            "id_a", "id_b",
            F.col("cid").cast("long").alias("cluster_id"),
            F.round("cos", 4).alias("cosine"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# ts_seasonal_decompose


@register(
    "ts_seasonal_decompose",
    group="X",
    oracle="""
    WITH e AS (
      SELECT event_type, ts, value FROM events
      WHERE value IS NOT NULL AND isfinite(value)
    ),
    b AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hb,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS v
      FROM e
      GROUP BY event_type, CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
    ),
    t AS (
      SELECT event_type, hb, v,
             list(v) OVER (PARTITION BY event_type ORDER BY hb NULLS FIRST
                           ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS l,
             ((hb // 3600000000) % 24 + 24) % 24 AS hod
      FROM b
    ),
    i AS (
      SELECT event_type, hb, hod, v,
             list_reduce(l, (a, x) -> a + x) / 24 AS trend
      FROM t WHERE len(l) = 24
    ),
    s AS (
      SELECT event_type, hb, v, trend,
             list(v - trend) OVER (
               PARTITION BY event_type, hod ORDER BY hb NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS sl
      FROM i
    )
    SELECT event_type, hb,
           FLOOR(v * 10000 + 0.5) / 10000 + 0 AS v,
           FLOOR(trend * 10000 + 0.5) / 10000 + 0 AS trend,
           FLOOR(list_reduce(sl, (a, x) -> a + x) / len(sl) * 10000 + 0.5)
             / 10000 + 0 AS seasonal,
           FLOOR((v - trend - list_reduce(sl, (a, x) -> a + x) / len(sl))
                 * 10000 + 0.5) / 10000 + 0 AS residual
    FROM s
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition per series (the
    moving-average method, statsmodels\' `seasonal_decompose` shape):
    value = trend + seasonal + residual over hourly buckets with a
    daily (24-hour) season. Trend is a centered 24-row moving average
    over the series\' OBSERVED bucket sequence (rows, not calendar
    hours — gaps compress; the full-window gate drops the edge rows a
    centered MA cannot define, exactly as statsmodels drops them).
    Seasonal is the hour-of-day mean of the detrended interior;
    residual is what\'s left. The forecasting/anomaly companion to
    ts_downsample/ts_ewma — what a metrics pipeline runs before
    alerting on the residual.

    Cross-engine exactness is built, not rounded-for: bucket means use
    the DECIMAL(18,2)-sum/count pattern (bit-identical), and BOTH
    window averages are LEFT FOLDS over ordered frame lists
    (collect_list over a ROWS frame == DuckDB list() OVER, the
    attested ts_ewma pairing; Spark aggregate(0D, +) == DuckDB
    list_reduce — (0 + x1) is exact in IEEE) — engine-internal window
    AVG would sum in different orders (Spark recomputes frames, DuckDB
    uses segment trees) and a ~1e-13 drift measurably crosses 4dp
    rounding boundaries on this fixture. Hour-of-day is integer
    arithmetic with the pmod mask (pre-epoch-exact: hb is a whole-hour
    multiple, so truncating and flooring division agree); NULL buckets
    sort NULLS FIRST explicitly (engine defaults disagree); nonfinite
    values are gated with the isfinite discipline (a NaN would poison
    Spark\'s decimal cast under ANSI).

    Scale shape: one bucket aggregate (map-side partial), then two
    window passes — (series) ordered and (series, hour-of-day) — both
    over the BUCKET relation (corpus span / bucket width rows, not
    event rows). The frame lists are 24 doubles; the seasonal list is
    one value per observed day per (series, hod). No joins at all."""
    e = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") < float("inf"))
    )
    b = e.groupBy(
        "event_type",
        F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hb"),
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    w24 = (
        Window.partitionBy("event_type")
        .orderBy(F.col("hb").asc_nulls_first())
        .rowsBetween(-11, 12)
    )
    t = b.withColumn("l", F.collect_list("v").over(w24)).withColumn(
        "hod", F.expr("pmod(hb DIV 3600000000, 24)")
    )
    i = t.filter(F.size("l") == 24).withColumn(
        "trend",
        F.expr("aggregate(l, CAST(0 AS DOUBLE), (a, x) -> a + x) / 24"),
    )
    ws = (
        Window.partitionBy("event_type", "hod")
        .orderBy(F.col("hb").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    sdf = i.withColumn(
        "sl", F.collect_list(F.col("v") - F.col("trend")).over(ws)
    ).withColumn(
        "seasonal",
        F.expr(
            "aggregate(sl, CAST(0 AS DOUBLE), (a, x) -> a + x) / size(sl)"
        ),
    )
    # Shared half-up tree, NOT engine ROUND: the trend quotient lands
    # EXACTLY on 4dp boundaries (e.g. 687.15/24 = 28.63125) and the
    # engines' ROUND disagree there (the one-ULP boundary gotcha).
    r4 = lambda c, n: (  # noqa: E731
        F.floor(c * 10000 + F.lit(0.5)) / 10000 + F.lit(0)
    ).alias(n)
    return sdf.select(
        "event_type",
        "hb",
        r4(F.col("v"), "v"),
        r4(F.col("trend"), "trend"),
        r4(F.col("seasonal"), "seasonal"),
        r4(F.col("v") - F.col("trend") - F.col("seasonal"), "residual"),
    )


# ---------------------------------------------------------------------------
# dedup_url_canonical

# Tracking parameters every crawl canonicalizer strips (Google/Facebook
# click ids + the utm_* family).
_URL_TRACKING_RE = "^(utm_[a-z]+|fbclid|gclid)="


@register(
    "dedup_url_canonical",
    group="X",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             regexp_replace(source, '[^a-zA-Z0-9-]', '', 'g') AS s,
             regexp_replace(lang, '[^a-zA-Z0-9-]', '', 'g') AS l
      FROM documents
      WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        AND source IS NOT NULL AND lang IS NOT NULL
    ),
    g AS (SELECT * FROM u WHERE length(s) > 0 AND length(l) > 0),
    raw AS (
      SELECT doc_id, j,
             CASE j
               WHEN 0 THEN 'https://' || s || '.example.org/' || l || '/'
                           || CAST(doc_id AS VARCHAR) || '/'
               WHEN 1 THEN 'HTTP://WWW.' || upper(s) || '.EXAMPLE.ORG/' || l
                           || '/' || CAST(doc_id AS VARCHAR)
                           || '?utm_source=feed&utm_campaign=x'
               ELSE 'https://' || s || '.example.org/' || l || '/'
                    || CAST(doc_id AS VARCHAR) || '?q='
                    || CAST(n_chars AS VARCHAR) || '#section-2'
             END AS url
      FROM g CROSS JOIN UNNEST(generate_series(0, 2)) t(j)
    ),
    parts AS (
      SELECT doc_id, url,
             regexp_replace(url, '^[a-zA-Z]+://', '') AS rest
      FROM raw
    ),
    split AS (
      SELECT doc_id, url,
             regexp_replace(lower(split_part(rest, '/', 1)),
                            '^www\\.', '') AS host,
             regexp_replace(
               split_part(split_part(
                 substr(rest, length(split_part(rest, '/', 1)) + 1),
                 '#', 1), '?', 1),
               '/+$', '') AS path,
             split_part(split_part(
               substr(rest, length(split_part(rest, '/', 1)) + 1),
               '#', 1), '?', 2) AS query
      FROM parts
    ),
    canon AS (
      SELECT doc_id,
             host || path ||
             CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url
      FROM (
        SELECT doc_id, host, path,
               -- COALESCE: an all-filtered (tracking-only) or absent
               -- query must canonicalize as '', never NULL ('' is not
               -- NULL — the string_agg gotcha; a NULL here would
               -- collapse every tracking-only URL into one NULL group)
               COALESCE(array_to_string(
                 list_filter(string_split(query, '&'),
                             p -> p <> '' AND NOT regexp_matches(
                                    p, '{_URL_TRACKING_RE}')),
                 '&'), '') AS cq
        FROM split
      )
    )
    SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_urls
    FROM canon GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-frontier / WARC-merge
    step that collapses scheme drift, WWW prefixes, host case,
    trailing slashes, tracking parameters (utm_*, fbclid, gclid), and
    fragments into one canonical key, while PRESERVING real query
    parameters (a ?q= page is NOT its parameterless sibling). Three
    renditions per document are constructed from sanitized fixture
    columns (fn_url's ground-truth-by-construction discipline): the
    clean https form with a trailing slash, a shouting HTTP://WWW
    variant carrying only tracking params, and a real-query + fragment
    form. The first two must collapse (n_urls = 2); the third keeps
    its ?q= and stands alone (n_urls = 1).

    The Spark side canonicalizes with parse_url(HOST/PATH/QUERY) +
    regexp/filter HOFs; the oracle REIMPLEMENTS the canonicalizer with
    generic string splitting — two independent implementations must
    agree on every URL, so a canonicalization bug on either side
    breaks the hash. Pure codegen expressions, one aggregate — a
    narrow map + one shuffle of canonical keys at any scale."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(
            F.col("doc_id").isNotNull()
            & F.col("n_chars").isNotNull()
            & F.col("source").isNotNull()
            & F.col("lang").isNotNull()
        )
        .select(
            "doc_id",
            "n_chars",
            F.regexp_replace("source", "[^a-zA-Z0-9-]", "").alias("s"),
            F.regexp_replace("lang", "[^a-zA-Z0-9-]", "").alias("l"),
        )
        .filter((F.length("s") > 0) & (F.length("l") > 0))
    )
    raw = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("j"),
        F.expr(
            "CASE j"
            " WHEN 0 THEN 'https://' || s || '.example.org/' || l || '/'"
            "   || CAST(doc_id AS STRING) || '/'"
            " WHEN 1 THEN 'HTTP://WWW.' || upper(s) || '.EXAMPLE.ORG/' || l"
            "   || '/' || CAST(doc_id AS STRING)"
            "   || '?utm_source=feed&utm_campaign=x'"
            " ELSE 'https://' || s || '.example.org/' || l || '/'"
            "   || CAST(doc_id AS STRING) || '?q='"
            "   || CAST(n_chars AS STRING) || '#section-2'"
            " END"
        ).alias("url"),
    )
    cq = (
        "array_join(filter(split(coalesce(parse_url(url, 'QUERY'), ''), '&'),"
        f" p -> p <> '' AND NOT p rlike '{_URL_TRACKING_RE}'), '&')"
    )
    canon = raw.select(
        "doc_id",
        F.concat(
            F.regexp_replace(
                F.lower(F.expr("parse_url(url, 'HOST')")), r"^www\.", ""
            ),
            F.regexp_replace(F.expr("parse_url(url, 'PATH')"), "/+$", ""),
            F.expr(f"CASE WHEN {cq} = '' THEN '' ELSE '?' || {cq} END"),
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls")
    )
