"""X group — extra training-data text operators beyond SURVEY §2B:
language-ID, quality scoring, tokenizer-style counting, document
fingerprinting, SimHash near-dup candidates. These are the text-side
primitives a 100 TB pretraining pipeline runs on every document, so
each is built as a single scan with JVM-side expressions (the SimHash
sketch being the one deliberate Pandas-UDF exception).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..exprs import band_join, normalized_text, word_trigrams
from ..plans.registry import register
from ..tables import table

# Marker tokens per language for the n-gram-heuristic language id.
# The fixture vocabulary is synthetic word soup, so the markers are
# engine-agnostic tokens — the POINT is the deterministic scoring
# cascade, which is exactly how a real stopword-profile lang-id works.
_MARKERS = {
    "en": ("the", "fast", "slow"),
    "de": ("der", "und", "nicht"),
    "fr": ("le", "et", "pas"),
    "es": ("el", "y", "no"),
    "zh": ("zh0", "zh1", "zh2"),
}


def _hits_sql(words: tuple[str, ...]) -> str:
    return " + ".join(
        f"len(list_filter(string_split(text, ' '), w -> w = '{w}'))" for w in words
    )


_LANG_ORACLE = (
    "SELECT doc_id, CASE "
    + " ".join(
        f"WHEN ({_hits_sql(ws)}) >= 3 THEN '{lang}'"
        for lang, ws in _MARKERS.items()
    )
    + " ELSE 'und' END AS lang_guess FROM documents"
)


@register("text_lang_id", group="X", oracle=_LANG_ORACLE)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: count marker-token hits per
    language, first profile over threshold wins (deterministic cascade,
    no floats). One scan, all filter/size HOFs in codegen."""
    toks = F.split("text", " ")

    def hits(words: tuple[str, ...]):
        h = None
        for w in words:
            c = F.size(F.filter(toks, lambda t: t == F.lit(w)))  # noqa: B023
            h = c if h is None else h + c
        return h

    guess = F.lit("und")
    for lang, ws in reversed(list(_MARKERS.items())):
        guess = F.when(hits(ws) >= 3, F.lit(lang)).otherwise(guess)
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", guess.alias("lang_guess"))


@register(
    "text_quality",
    group="X",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           ROUND(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4)
             AS chars_per_token,
           ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS ttr,
           CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 90
                 AND len(list_distinct(string_split(text, ' ')))
                     >= 0.25 * len(string_split(text, ' '))
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length band + type-token ratio ->
    keep/drop verdict (the filter stage of a pretraining data pipeline,
    per-document, embarrassingly parallel)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(F.col("n_chars").cast("double") / n_tok, 4).alias("chars_per_token"),
        F.round(n_dis.cast("double") / n_tok, 4).alias("ttr"),
        F.when(
            n_tok.between(20, 90) & (n_dis >= 0.25 * n_tok), "keep"
        )
        .otherwise("drop")
        .alias("verdict"),
    )


@register(
    "text_token_count",
    group="X",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_subtokens,
           len(string_split(text, ' ')) AS n_words
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style counting: a BPE-ish regex (letter runs / digit
    runs as separate subtokens) vs plain whitespace words — the number
    every token-budgeted pipeline needs per document. regexp runs in
    the JVM; the same pattern drives both engines."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0)).alias(
            "n_subtokens"
        ),
        F.size(F.split("text", " ")).alias("n_words"),
    )


@register(
    "text_fingerprint",
    group="X",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set — two docs with permuted/duplicated tokens
    collide, which is the grouping key for cheap shuffle-light dedup
    sweeps (hash travels, text doesn't)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        # NULL text -> NULL fingerprint: concat_ws would silently turn
        # the null token array into '' (md5 of empty = d41d8cd9...),
        # colliding every missing-text doc into one dedup group, while
        # the oracle's array_to_string(NULL) null-propagates.
        F.when(
            F.col("text").isNotNull(),
            F.md5(
                F.concat_ws(
                    " ", F.sort_array(F.array_distinct(F.split("text", " ")))
                )
            ),
        ).alias("fingerprint"),
    )


def simhash64(tokens) -> int:
    """64-bit SimHash over a token iterable (md5-derived bit vectors).
    Plain Python REFERENCE definition — the Spark kernel runs the
    vectorized simhash64_batch below, which is property-tested equal
    to this function."""
    acc = [0] * 64
    for t in tokens:
        h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        for bit in range(64):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(64):
        if acc[bit] > 0:
            out |= 1 << bit
    return out


def simhash64_batch(token_lists) -> "np.ndarray":
    """Vectorized simhash64 over a batch of token lists (the Pandas-UDF
    hot path): md5 runs ONCE per unique token in the batch (natural
    text reuses vocabulary heavily), and the 64-bit vote loop — 64
    Python ops per token in the reference — becomes one numpy
    bit-unpack + reduceat. ~20x the scalar kernel on fixture docs;
    bit-exact with simhash64 (signed integer votes, > 0 threshold)."""
    import numpy as np

    flat: list[str] = []
    offsets = [0]
    for toks in token_lists:
        flat.extend(toks)
        offsets.append(len(flat))
    n_docs = len(token_lists)
    if not flat:
        return np.zeros(n_docs, dtype=np.uint64)
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    uhash = np.empty(len(uniques), dtype=np.uint64)
    for i, u in enumerate(uniques):
        uhash[i] = int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "big")
    shifts = np.arange(64, dtype=np.uint64)
    # (U, 64) vote vectors in {-1, +1} per UNIQUE token. Never gather
    # this per token occurrence: ubits[codes] is (tokens, 64) int32 —
    # gigabytes per Arrow batch on long docs (measured 4x SLOWER than
    # the scalar loop from allocation pressure alone).
    ubits = (((uhash[:, None] >> shifts) & 1).astype(np.int32) * 2) - 1
    offs = np.asarray(offsets)
    if len(uniques) <= (1 << 13):
        # Small batch vocabulary (the common corpus case): per-doc
        # unique-token COUNTS (docs x U, bounded by the vocab cap),
        # then one matmul gives every doc's 64 vote sums.
        doc_idx = np.repeat(np.arange(n_docs), np.diff(offs))
        counts = np.zeros((n_docs, len(uniques)), dtype=np.int32)
        np.add.at(counts, (doc_idx, codes), 1)
        votes = counts @ ubits
    else:
        # Wide vocabulary: per-doc slices keep transients at
        # (doc_tokens, 64) — tens of KB, not GB.
        votes = np.zeros((n_docs, 64), dtype=np.int64)
        for d in range(n_docs):
            lo, hi = offs[d], offs[d + 1]
            if hi > lo:
                votes[d] = ubits[codes[lo:hi]].sum(axis=0)
    out = ((votes > 0).astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
    out[np.diff(offs) == 0] = 0
    return out


@register("dedup_simhash", group="X", oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate buckets: compute a 64-bit SimHash per
    document (Pandas UDF — the sketch is custom numeric code, the
    legitimate use of the Python path), then band the hash into 4x16-bit
    bands and group on (band_no, band_value): near-identical docs agree
    on at least one band with high probability. Output = buckets with
    >1 member (candidate pairs for exact re-check). rows-only: the
    sketch has no SQL equivalent; tests/test_llm_ops.py proves planted
    near-dups collide and distinct docs don't.

    Scale: the shuffle key is 2+8 bytes per doc per band; candidates
    are verified per-bucket — the classic linear-cost near-dup sweep.
    The member list per bucket is capped at 1024 ids via a sort-based
    window rank (n_docs still carries the true count): an uncapped
    collect_list on a hot bucket (think boilerplate pages all sharing
    a band) is the non-spilling ObjectHashAggregate buffer shape the
    10x census proved heap-fatal, and a bucket past ~1k members is a
    degenerate band you re-shard anyway, not a candidate list.
    """

    @pandas_udf("long")
    def simhash_udf(texts: pd.Series) -> pd.Series:
        # Mask to a signed 63-bit value: Spark longs are signed, and the
        # banding below only needs bit equality, not the sign bit.
        # NULL text never reaches here — the isNotNull filter below is
        # the contract (dropping beats hash-0 bucketing: it keeps all
        # missing-text docs from piling into one candidate bucket).
        hashes = simhash64_batch([t.split(" ") for t in texts])
        return pd.Series(
            (hashes & 0x7FFFFFFFFFFFFFFF).astype("int64"), index=texts.index
        )

    # NULL text can't near-duplicate content; dropping it here also
    # prevents all missing-text docs from piling into one hash-0 bucket.
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    hashed = d.select("doc_id", simhash_udf("text").alias("simhash"))
    bands = hashed.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_no"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_value"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_no", "band.band_value")
    w_bucket = Window.partitionBy("band_no", "band_value")
    ranked = bands.select(
        "doc_id",
        "band_no",
        "band_value",
        F.row_number().over(w_bucket.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w_bucket).alias("n_docs"),
    )
    return (
        ranked.filter((F.col("n_docs") > 1) & (F.col("rn") <= 1024))
        .groupBy("band_no", "band_value")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.concat_ws(
                ",",
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"),
            ).alias("doc_ids"),
        )
        # truncated: doc_ids holds only the first 1024 members while
        # n_docs reports the true count — without the flag a consumer
        # generating pairs from doc_ids silently misses the tail
        # (r5 ADVICE). True => re-shard the degenerate band, don't
        # treat doc_ids as the full candidate list.
        .select(
            "band_no",
            "band_value",
            "n_docs",
            "doc_ids",
            (F.col("n_docs") > 1024).alias("truncated"),
        )
    )


@register(
    "text_normalize",
    group="X",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
                  ' +', ' ', 'g')) AS norm_text,
           LENGTH(trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
                  ' +', ' ', 'g')))
             - LENGTH(replace(trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
                  ' +', ' ', 'g')), ' ', '')) + 1 AS n_tokens
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the first stage of every dedup /
    quality pipeline (lowercase, strip non-alphanumerics, collapse
    whitespace) and the reason exact-dedup catches near-identical
    crawls. Entirely JVM regexp (whole-stage codegen, no Python);
    the token count is derived from the normalized form so downstream
    stages agree on tokenization. Hash-checked against DuckDB's regex
    engine — the character-class semantics must agree exactly."""
    d = table(spark, sf_dir, "documents")
    norm = normalized_text("text")
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        (
            F.length(norm) - F.length(F.regexp_replace(norm, " ", "")) + 1
        ).cast("long").alias("n_tokens"),
    )


@register(
    "text_pii_mask",
    group="X",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>',
               'g'),
             '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS masked,
           (text <> regexp_replace(
             regexp_replace(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>',
               'g'),
             '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g')) AS was_masked
    FROM documents
    """,
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — email/phone patterns replaced with typed mask
    tokens, plus a per-doc audit flag. A mandatory pre-training stage;
    at 100 TB it is a pure narrow map (JVM regexp, no shuffle, no
    Python), so it composes into any scan for free. Hash parity across
    Java regex and DuckDB's RE2 pins the character-class semantics the
    masking relies on."""
    d = table(spark, sf_dir, "documents")
    masked = F.regexp_replace(
        F.regexp_replace(
            F.col("text"),
            r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
            "<EMAIL>",
        ),
        r"\d{3}-\d{3}-\d{4}",
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        masked.alias("masked"),
        (F.col("text") != masked).alias("was_masked"),
    )


@register("agg_heavy_hitters", group="X", oracle=None)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch (``approx_top_k``) over the exploded token
    stream — the heavy-hitters pass that finds stop-shingles and
    boilerplate tokens BEFORE they blow up a shingle-equality join
    (dedup_ngram_jaccard's documented two-stage cure uses exactly this
    output). The sketch partial-aggregates and merges, so shuffled
    bytes are O(k), not O(vocabulary). rows-only: top-k tie ordering at
    the cut is sketch-internal; tests/test_quality.py asserts every
    reported count equals the exact count and the true top-5 are all
    present."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    hh = toks.select(
        F.expr("approx_top_k(tok, 10, 100000)").alias("top")
    )
    return hh.select(F.explode("top").alias("e")).select(
        F.col("e.item").alias("token"), F.col("e.count").alias("n")
    )


@register(
    "dedup_levenshtein",
    group="X",
    oracle="""
    WITH n AS (
      SELECT doc_id, lang,
             substr(lower(text), 1, 12) AS blk,
             substr(lower(text), 1, 64) AS head,
             list_transform(string_split(substr(lower(text), 1, 64), ' '),
               w -> strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1)
               AS nibs
      FROM documents
    ),
    bands AS (
      SELECT doc_id, lang, blk, head,
        (CASE WHEN list_sum(list_transform(nibs, v ->
           CASE WHEN (v & 1) <> 0 THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END)
      + (CASE WHEN list_sum(list_transform(nibs, v ->
           CASE WHEN (v & 2) <> 0 THEN 1 ELSE -1 END)) > 0 THEN 2 ELSE 0 END)
      + (CASE WHEN list_sum(list_transform(nibs, v ->
           CASE WHEN (v & 4) <> 0 THEN 1 ELSE -1 END)) > 0 THEN 4 ELSE 0 END)
      + (CASE WHEN list_sum(list_transform(nibs, v ->
           CASE WHEN (v & 8) <> 0 THEN 1 ELSE -1 END)) > 0 THEN 8 ELSE 0 END)
        AS band
      FROM n
    ),
    ranked AS (
      SELECT doc_id, lang, blk, band, head,
             ROW_NUMBER() OVER (PARTITION BY lang, blk, band
                                ORDER BY head, doc_id) AS rn
      FROM bands
    )
    SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
           GREATEST(a.doc_id, b.doc_id) AS id_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM ranked a JOIN ranked b
      ON a.lang = b.lang AND a.blk = b.blk AND a.band = b.band
     AND b.rn - a.rn BETWEEN 1 AND 16
    WHERE levenshtein(a.head, b.head) <= 8
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs — the character-level complement of
    the token-level dedup family (typo'd reposts, OCR jitter, template
    drift that shingles miss). Levenshtein is O(len²) per pair, so two
    bounds keep it sane: the comparison runs on a 64-char normalized
    head (never whole documents), and candidate pairs come from a
    (lang, 12-char-prefix, 4-bit head-SimHash band) equality block —
    a join on the block key, never all-pairs.

    The SimHash band is the hot-prefix skew guard: real corpora pile
    onto prefixes like "the " or templated headers, and a prefix-only
    block goes quadratic in that pile. The band is a majority vote per
    bit over the head's tokens (bit j of a token = bit j of the first
    hex digit of its md5), so two heads within a few token edits
    almost always land in the same band, while a hot-prefix block with
    diverse tails splits into up to 16 sub-blocks. Both block keys and
    levenshtein are bit-identical across engines (md5 hex + strpos
    arithmetic mirror conv(…,16,10)), so the contract stays hash-exact.

    Band splitting alone is NOT enough: when near-identical docs differ
    only past the 64-char head (the boilerplate pile), all copies share
    prefix AND band, and pair work inside the pile is H² — the 10x
    scaling census measured 39x wall on 10x data from exactly this. So
    the block join is a SORTED NEIGHBORHOOD: members rank by (head,
    doc_id) within each block and only pairs within 16 rank positions
    meet, via the rank-bucket two-sided explode (`rn DIV 16` in the
    equi-join key, exprs.band_join), so
    joined rows are O(16·H) per block — linear in the corpus. Lexical
    rank adjacency keeps recall: near-identical heads sort adjacent,
    and a >16-deep pile of mutual near-dups still chains transitively
    through consecutive ranks for the downstream clustering pass.
    Known misses — edits in the first 12 chars, band flips from heavy
    head rewrites, pairs >16 ranks apart in a giant block — are the
    standard blocking trade; the LSH family covers those cases."""
    d = table(spark, sf_dir, "documents")
    n = d.select(
        "doc_id",
        "lang",
        F.substring(F.lower("text"), 1, 12).alias("blk"),
        F.substring(F.lower("text"), 1, 64).alias("head"),
    )

    # ONE md5 per token: transform materializes the md5 nibbles once,
    # then a single aggregate majority-votes all 4 bits over a packed
    # accumulator (four 8-bit counters biased at 128 in one BIGINT —
    # heads are <= 64 chars so each counter stays within 128 +/- 33)
    # and the finish lambda decodes the band. Writing it as one
    # expression matters: 4 separate votes referencing an aliased
    # nibble column would be re-inlined by CollapseProject into 4 md5
    # passes — the same HOF trap text_repetition's docstring documents.
    _BAND_EXPR = """
    aggregate(
      transform(split(head, ' '),
                w -> cast(conv(substr(md5(w), 1, 1), 16, 10) AS bigint)),
      cast(2155905152 AS bigint),
      (acc, v) -> acc
        + (CASE WHEN (v & 1) <> 0 THEN 1 ELSE -1 END)
        + (CASE WHEN (v & 2) <> 0 THEN 256 ELSE -256 END)
        + (CASE WHEN (v & 4) <> 0 THEN 65536 ELSE -65536 END)
        + (CASE WHEN (v & 8) <> 0 THEN 16777216 ELSE -16777216 END),
      acc -> cast(
          (CASE WHEN (acc & 255) > 128 THEN 1 ELSE 0 END)
        + (CASE WHEN (shiftright(acc, 8) & 255) > 128 THEN 2 ELSE 0 END)
        + (CASE WHEN (shiftright(acc, 16) & 255) > 128 THEN 4 ELSE 0 END)
        + (CASE WHEN (shiftright(acc, 24) & 255) > 128 THEN 8 ELSE 0 END)
        AS int)
    )
    """
    nbr = 16
    ranked = n.withColumn("band", F.expr(_BAND_EXPR)).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang", "blk", "band").orderBy("head", "doc_id")
        ),
    )
    a = ranked.select(
        F.col("doc_id").alias("did_a"),
        "lang",
        "blk",
        "band",
        F.col("head").alias("head_a"),
        F.col("rn").alias("rn_a"),
    )
    b = ranked.select(
        F.col("doc_id").alias("did_b"),
        F.col("lang").alias("lang_b"),
        F.col("blk").alias("blk_b"),
        F.col("band").alias("band_b"),
        F.col("head").alias("head_b"),
        F.col("rn").alias("rn_b"),
    )
    # Equal-head fast path: a boilerplate pile is mostly IDENTICAL
    # heads, and Spark's levenshtein is O(len^2) even for equal inputs
    # — the string equality check is O(len) and settles the dominant
    # share of pairs in duplicate-heavy data. Same values either way.
    dist = F.when(F.col("head_a") == F.col("head_b"), F.lit(0)).otherwise(
        F.levenshtein(F.col("head_a"), F.col("head_b"))
    )
    return (
        band_join(
            a,
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("blk") == F.col("blk_b"))
            & (F.col("band") == F.col("band_b")),
            nbr,
        )
        .filter(dist <= 8)
        .select(
            F.least("did_a", "did_b").alias("id_a"),
            F.greatest("did_a", "did_b").alias("id_b"),
            dist.cast("bigint").alias("edit_dist"),
        )
    )


@register(
    "text_repetition",
    group="X",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tri AS (SELECT doc_id,
             CASE WHEN t IS NULL THEN NULL
                  WHEN len(t) >= 3
                  THEN list_transform(generate_series(1, len(t)-2),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE CAST([] AS VARCHAR[]) END AS tri
            FROM toks)
    SELECT doc_id,
           CAST(len(tri) AS BIGINT) AS n_tri,
           CAST(len(tri) - len(list_distinct(tri)) AS BIGINT) AS dup_cnt,
           CASE WHEN tri IS NULL THEN NULL
                WHEN len(tri) > 0
                THEN CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE) / len(tri)
                ELSE 0.0 END AS dup_frac
    FROM tri
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score: the fraction of word trigrams
    that are duplicates of an earlier trigram in the same document —
    the Gopher/MassiveText "repetitive content" quality rule (docs with
    high duplicate-n-gram fraction are boilerplate, spam, or decoding
    loops and get filtered before training).

    Entirely JVM-side higher-order functions on the token array —
    transform over an index sequence builds the trigrams,
    array_distinct measures uniqueness — so there is NO shuffle and NO
    Python: the whole op is one narrow projection pass, which is the
    correct 100 TB plan for a per-document score (embarrassingly
    parallel, scales with scan bandwidth).

    The trigram list is built INDEX-FREE — ``zip_with`` over three
    shifted ``slice``s — never ``transform(sequence(...), i -> t[i])``.
    The indexed form's lambda references the token column per ELEMENT,
    and when Catalyst substitutes a filter or collapsed projection
    through the alias, ``split(text)`` lands inside the lambda and
    re-runs per element: O(tokens^2) per document, measured 7.7s vs
    0.6s at sf0.1. zip_with's lambda touches only lambda variables, so
    even a fully-substituted plan evaluates each slice once per row —
    linear by construction, whatever the optimizer does around it.
    (slice past the end is empty, so <3-token docs yield [] with no
    guard; Spark's descending ``sequence(1, n<1)`` footgun never
    enters.) dup_frac is the same int/int double division on both
    engines — bit-identical, no rounding fudge."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    out = toks.select("doc_id", word_trigrams("t", 0).alias("tri"))
    n_tri = F.size("tri").cast("bigint")
    dup = (F.size("tri") - F.size(F.array_distinct("tri"))).cast("bigint")
    return out.select(
        "doc_id",
        n_tri.alias("n_tri"),
        dup.alias("dup_cnt"),
        # NULL text (tri NULL) must null-propagate, not fall into the
        # zero-trigram branch — otherwise(0.0) would swallow it.
        F.when(F.col("tri").isNull(), F.lit(None).cast("double"))
        .when(n_tri > 0, dup.cast("double") / n_tri)
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )
