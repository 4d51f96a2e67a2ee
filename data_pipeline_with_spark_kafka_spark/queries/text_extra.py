"""Tokenization-depth queries: BPE-ish regex token counting and winnowing
document fingerprints — both oracle-able, pure expression trees (the §2.9
[EXT] pandas_udf surface lives in llm_scoring.py / multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table, load_table_fanned

# Portable Java/RE2 subset: letter runs, digit runs, single punctuation.
BPE_ISH = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_ISH}')) AS n_bpe_tokens
FROM documents
"""


@register("llm_token_count_regex", oracle=TOKEN_COUNT_ORACLE, tags=("llm", "text"))
def llm_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counting (both JVM-side)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(BPE_ISH)).alias("n_bpe_tokens"),
    )


# Winnowing parameters (Schleimer/Wilkerson/Aiken, SIGMOD'03): token
# 3-gram hashes, window-of-4 minima, xor-folded to one fingerprint. The
# gram hash is the first 15 hex digits of md5 parsed as an integer — the
# one string hash DuckDB and Spark compute IDENTICALLY, which is what
# makes this tier oracle-able (xxhash64 seeds differ between engines).
_WINNOW_K, _WINNOW_W = 3, 4

WINNOWING_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
    SELECT doc_id,
           [array_to_string(t[CAST(i AS INT) : CAST(i AS INT) + 2], ' ')
            FOR i IN range(1, GREATEST(len(t) - 1, 1))] AS g
    FROM toks
), hashes AS (
    SELECT doc_id,
           [CAST(list_sum([(strpos('0123456789abcdef', substr(md5(x), CAST(j AS INT), 1)) - 1)
                           * CAST(POWER(16, 15 - j) AS BIGINT)
                           FOR j IN range(1, 16)]) AS BIGINT)
            FOR x IN g] AS h
    FROM grams
), wins AS (
    SELECT doc_id,
           CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
                ELSE [list_min(h[CAST(i AS INT) : CAST(i AS INT) + 3])
                      FOR i IN range(1, GREATEST(len(h) - 3, 1) + 1)]
           END AS m
    FROM hashes
)
SELECT doc_id, CAST(COALESCE(list_aggregate(m, 'bit_xor'), 0) AS BIGINT) AS winnow_fp
FROM wins
"""


@register("llm_fingerprint_winnowing", oracle=WINNOWING_ORACLE, tags=("llm", "text"))
def llm_fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints, pure expression tree (no UDF, no
    shuffle): token 3-gram md5 hashes -> sliding window-of-4 minima ->
    xor fold. Same S/W/A guarantee as the classic char-gram form — any
    sufficiently long shared run of tokens contributes a shared window
    minimum — at token granularity, matching the rest of the text stack."""
    from data_pipeline_with_spark_kafka_spark.operators.text import shingles, tokens

    docs = load_table_fanned(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    grams = shingles(t, _WINNOW_K, distinct=False)
    h = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    )
    # STAGED projections, not one inlined expression: the hash array must
    # be bound to an attribute before the per-window slices reference it.
    # Inlined, every one of the ~n windows re-evaluated the ENTIRE
    # md5-per-gram array (no common-subexpression elimination across a
    # transform lambda boundary) — O(n^2) hashing per doc, measured 33 s
    # for the sf0.1 corpus vs 0.96 s staged. CollapseProject leaves the
    # stages alone because the alias is non-cheap and multiply-referenced.
    d = docs.select("doc_id", h.alias("_h"))
    d = d.select("doc_id", "_h", F.size("_h").alias("_n"))
    mins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.col("_n") - (_WINNOW_W - 1), F.lit(1)) - 1),
        lambda i: F.array_min(F.slice(F.col("_h"), i + 1, _WINNOW_W)),
    )
    d = d.select("doc_id", "_n", mins.alias("_m"))
    fp = F.when(F.col("_n") == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate("_m", F.lit(0).cast("long"), lambda acc, x: acc.bitwiseXOR(x))
    )
    return d.select("doc_id", fp.alias("winnow_fp"))


# --------------------------------------------------------------------------
# Gopher-style quality heuristics + corpus n-gram stats
# --------------------------------------------------------------------------

GOPHER_ORACLE = """
WITH toks AS (
    -- NULL-text docs have no tokens and no metrics: excluded on both
    -- engines (the dq suite is where missing text gets flagged).
    SELECT doc_id, text, string_split(text, ' ') AS t
    FROM documents WHERE text IS NOT NULL
), base AS (
    SELECT doc_id,
           len(t) AS n_tokens,
           ROUND((length(text) - (len(t) - 1)) * 1.0 / len(t), 4) AS mean_word_len
    FROM toks
), bi AS (
    SELECT doc_id,
           COUNT(*) AS total_bi,
           COUNT(DISTINCT bg) AS distinct_bi
    FROM (
        SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bg
        FROM toks, UNNEST(range(1, len(t))) AS r(i)
    )
    GROUP BY doc_id
), tf AS (
    SELECT doc_id, MAX(cnt) AS top_cnt
    FROM (
        SELECT doc_id, w, COUNT(*) AS cnt
        FROM (SELECT doc_id, UNNEST(t) AS w FROM toks)
        GROUP BY doc_id, w
    )
    GROUP BY doc_id
)
SELECT base.doc_id,
       base.n_tokens,
       base.mean_word_len,
       CASE WHEN COALESCE(bi.total_bi, 0) = 0 THEN 0.0
            ELSE ROUND(1.0 - bi.distinct_bi * 1.0 / bi.total_bi, 4) END AS dup_bigram_ratio,
       ROUND(tf.top_cnt * 1.0 / base.n_tokens, 4) AS top_token_ratio,
       (base.n_tokens BETWEEN 10 AND 1000
        AND base.mean_word_len BETWEEN 3 AND 10
        AND CASE WHEN COALESCE(bi.total_bi, 0) = 0 THEN 0.0
                 ELSE ROUND(1.0 - bi.distinct_bi * 1.0 / bi.total_bi, 4) END <= 0.6
        AND ROUND(tf.top_cnt * 1.0 / base.n_tokens, 4) <= 0.25) AS passes
FROM base
LEFT JOIN bi ON bi.doc_id = base.doc_id
JOIN tf ON tf.doc_id = base.doc_id
"""


@register("llm_quality_gopher", oracle=GOPHER_ORACLE, tags=("llm", "text"))
def llm_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/shape quality rules, all in codegen (zero
    UDFs, zero shuffles — per-row expressions only):

    - token-count and mean-word-length bounds,
    - duplicate-bigram ratio (repetition filter),
    - top-token frequency ratio (degenerate-doc filter),
    - conjunctive pass flag.

    The per-row top-token count is an O(distinct * n) expression pair —
    bounded by doc length, no explode/groupBy shuffle."""
    return gopher_metrics(load_table_fanned(spark, sf_dir, "documents"))


def gopher_metrics(docs: DataFrame) -> DataFrame:
    """Gopher quality metrics over any (doc_id, text) frame — split out so
    the trainer/scorer CLI (run.py train-quality / curate --model) can
    run on arbitrary document parquet, not just the registry tables."""
    from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
    from data_pipeline_with_spark_kafka_spark.operators.text import shingles, tokens

    # Staged projections (the winnowing lesson, llm_fingerprint_winnowing
    # above): each stage binds expensive arrays/scalars to attributes so
    # downstream references — `passes` alone re-derives every metric —
    # never re-inline the split()/shingle work. NULL-text docs are
    # excluded (no tokens -> no metrics; round-8 all-NULL edge corpus —
    # missing text is a dq-suite violation, not a quality score).
    d = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.length("text").alias("_len"), tokens(F.col("text")).alias("_t")
    )
    d = d.select(
        "doc_id", "_len", "_t",
        F.size("_t").alias("_n"),
        shingles(F.col("_t"), 2, distinct=False).alias("_bi"),
    )
    # O(distinct * n) per-row top-token count, bounded by doc length — the
    # no-shuffle form (an explode+groupBy would pay a corpus-wide shuffle).
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(F.col("_t")),
            lambda w: F.size(F.filter(F.col("_t"), lambda y: y == w)),
        )
    )
    d = d.select(
        "doc_id", "_len", "_n",
        F.size("_bi").alias("_total_bi"),
        F.size(F.array_distinct("_bi")).alias("_distinct_bi"),
        top_cnt.alias("_top_cnt"),
    )
    n = F.col("_n")
    mean_word_len = round_to((F.col("_len") - (n - F.lit(1))) / n, 4)
    dup_ratio = F.when(F.col("_total_bi") <= 0, F.lit(0.0)).otherwise(
        round_to(F.lit(1.0) - F.col("_distinct_bi") / F.col("_total_bi"), 4)
    )
    top_ratio = round_to(F.col("_top_cnt") / n, 4)
    passes = (
        n.between(10, 1000)
        & mean_word_len.between(3, 10)
        & (dup_ratio <= 0.6)
        & (top_ratio <= 0.25)
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        dup_ratio.alias("dup_bigram_ratio"),
        top_ratio.alias("top_token_ratio"),
        passes.alias("passes"),
    )


# phi chosen to split the fixture distribution (top ~18 of 31 tokens pass;
# 'key' at 0.0330 fails, 'value' at 0.0330+ passes — strict > on exact
# counts, deterministic on both engines).
_HH_PHI = 0.033

HEAVY_HITTERS_ORACLE = f"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(COUNT(*) / (SELECT n FROM tot), 6) AS freq
FROM toks GROUP BY token
HAVING COUNT(*) > {_HH_PHI} * (SELECT n FROM tot)
"""


@register("text_heavy_hitters", oracle=HEAVY_HITTERS_ORACLE, tags=("llm", "text", "sketch"))
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy-hitter tokens via bounded-memory Misra-Gries sketch
    + exact recount of the (broadcast-sized) candidate set — the shuffle
    never carries the full token domain (operators/sketches.py). The
    two-pass result is exact, so the DuckDB oracle is a plain frequency
    aggregate with the same strict > phi*n cut."""
    from data_pipeline_with_spark_kafka_spark.operators.sketches import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    return heavy_hitters(toks, "token", phi=_HH_PHI).withColumnRenamed("item", "token")


TOP_BIGRAMS_ORACLE = """
SELECT bg AS bigram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
    SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bg
    FROM (SELECT string_split(text, ' ') AS t FROM documents),
         UNNEST(range(1, len(t))) AS r(i)
)
GROUP BY bg
ORDER BY cnt DESC, bigram
LIMIT 50
"""


@register("llm_top_bigrams", oracle=TOP_BIGRAMS_ORACLE, tags=("llm", "text"))
def llm_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 bigram frequencies (vocabulary/contamination
    analysis): explode non-distinct bigrams, one partial-aggregated count
    shuffle, TakeOrderedAndProject top-k (no global sort). Ties broken on
    the bigram string so the LIMIT is deterministic on both engines."""
    from data_pipeline_with_spark_kafka_spark.operators.text import shingles, tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(shingles(tokens(F.col("text")), 2, distinct=False)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(50)
    )


TOKEN_ENTROPY_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), post AS (
    SELECT doc_id, len(t) AS dl, u.term, COUNT(*) AS tf
    FROM toks, UNNEST(t) AS u(term)
    GROUP BY 1, 2, 3
)
SELECT doc_id,
       ROUND(-SUM((tf * 1.0 / dl) * LN(tf * 1.0 / dl)), 4) AS token_entropy,
       ROUND(COUNT(*) * 1.0 / dl, 4) AS type_token_ratio
FROM post GROUP BY doc_id, dl
"""


@register("llm_token_entropy", oracle=TOKEN_ENTROPY_ORACLE, tags=("llm", "text"))
def llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy + type-token ratio — the
    classic repetitiveness/diversity quality signals (low entropy = the
    doc keeps repeating the same tokens; complements the Gopher
    surface-shape rules).

    PER-ROW run-length form (round 13, guide §2.1 — the metric is
    doc-local, so no shuffle should exist): sort the token array, find
    run boundaries (``filter`` over positions), difference consecutive
    boundaries into within-doc term frequencies, and fold
    H = -sum(p ln p) with ``aggregate`` — ZERO Exchanges. The r12 form
    shuffled the whole corpus twice (term-postings aggregate + per-doc
    aggregate) to compute a value each row can compute alone; measured
    1.27 -> 0.49 s median at sf0.1, and at 100 TB it removes two
    corpus-sized shuffles outright. FP note: the fold adds p·ln p in
    sorted-token order vs the aggregate's arbitrary order — identical
    rounded output verified at sf0.001/0.01/0.1 and under the 3-seed
    fuzz sweep (tools/seed_fuzz.py)."""
    from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to

    docs = load_table_fanned(spark, sf_dir, "documents")
    # A NULL text has no tokens, so no row (the oracle's UNNEST of a NULL
    # list yields none).
    d = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.sort_array(F.split("text", " ")).alias("t")
    ).select("doc_id", "t", F.size("t").alias("dl"))
    d = d.withColumn(
        "ends",
        F.expr(
            "filter(sequence(1, dl), i -> i = dl OR element_at(t, i) != element_at(t, i + 1))"
        ),
    )
    d = d.withColumn(
        "tfs", F.expr("transform(ends, (e, j) -> e - if(j = 0, 0, element_at(ends, j)))")
    )
    h = F.expr(
        "-aggregate(tfs, cast(0 as double), (acc, tf) -> acc + (tf / dl) * ln(tf / dl))"
    )
    return d.select(
        "doc_id",
        round_to(h, 4).alias("token_entropy"),
        round_to(F.size("ends") / F.col("dl"), 4).alias("type_token_ratio"),
    )


# --------------------------------------------------------------------------
# Corpus-law diagnostics: Zipf rank-frequency fit and PMI collocations
# --------------------------------------------------------------------------

ZIPF_ORACLE = """
WITH toks AS (
    SELECT string_split(text, ' ') AS t FROM documents
), tf AS (
    SELECT u.term, COUNT(*) AS c FROM toks, UNNEST(t) AS u(term) GROUP BY 1
), ranked AS (
    SELECT term, c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rk FROM tf
)
SELECT CAST(COUNT(*) AS INT) AS n_terms,
       ROUND(regr_slope(ln(c), ln(rk)) * 1000000) / 1000000 AS zipf_slope,
       ROUND(regr_r2(ln(c), ln(rk)) * 1000000) / 1000000 AS zipf_r2
FROM ranked WHERE rk <= 200
"""


@register("llm_zipf_fit", oracle=ZIPF_ORACLE, tags=("llm", "text", "diagnostic"))
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostic: least-squares slope (and R²) of
    ln(freq) vs ln(rank) over the top-200 terms. Natural corpora sit near
    slope -1 with high R²; synthetic/templated or heavily-deduplicated
    text drifts off — a one-row corpus-health probe. One term-count
    aggregate + a 200-row regression (regr_slope/regr_r2 are built-in on
    both engines)."""
    from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # TakeOrdered cut to 200 BEFORE the rank window, so nothing ever
    # sorts the full vocabulary on one partition (same discipline as the
    # DSIR top-k).
    top = tf.orderBy(F.col("c").desc(), F.col("term")).limit(200)
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("term")))
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("int").alias("n_terms"),
        round_to(F.expr("regr_slope(ln(c), ln(rk))"), 6).alias("zipf_slope"),
        round_to(F.expr("regr_r2(ln(c), ln(rk))"), 6).alias("zipf_r2"),
    )


PMI_ORACLE = """
WITH toks AS (
    SELECT string_split(text, ' ') AS t FROM documents
), uni AS (
    SELECT u.term, COUNT(*) AS c FROM toks, UNNEST(t) AS u(term) GROUP BY 1
), tot AS (
    SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni
), big AS (
    SELECT unnest([t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]
                   for i in range(1, len(t))]) AS g
    FROM toks
), bc AS (
    SELECT g, COUNT(*) AS c FROM big GROUP BY 1
), btot AS (
    SELECT CAST(SUM(c) AS DOUBLE) AS nb FROM bc
), scored AS (
    SELECT bc.g AS bigram, bc.c AS pair_count,
           ROUND((ln(bc.c / btot.nb)
                  - ln(a.c / tot.n)
                  - ln(b.c / tot.n)) * 1000000) / 1000000 AS pmi
    FROM bc
    JOIN uni a ON a.term = string_split(bc.g, ' ')[1]
    JOIN uni b ON b.term = string_split(bc.g, ' ')[2]
    CROSS JOIN tot CROSS JOIN btot
    WHERE bc.c >= 5
)
SELECT bigram, CAST(pair_count AS BIGINT) AS pair_count, pmi,
       CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, bigram) AS INT) AS rank
FROM scored
QUALIFY rank <= 20
"""


@register("llm_top_pmi_bigrams", oracle=PMI_ORACLE, tags=("llm", "text", "diagnostic"))
def llm_top_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information: top-20 bigrams
    (count >= 5) by PMI = ln p(ab) - ln p(a) - ln p(b) — the standard
    phrase-extraction signal (Church & Hanks 1990) for tokenizer/vocab
    construction. One bigram count + two unigram joins against the
    vocab-sized term relation; the two corpus totals are 1-row cross
    joins. The ln decomposition keeps the arithmetic order identical on
    both engines."""
    from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
    from data_pipeline_with_spark_kafka_spark.operators.importance import (
        unigram_bigram_grams,
    )
    from pyspark.sql.window import Window

    docs = load_table_fanned(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    uni = (
        docs.select(F.explode(t).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n"))
    bigrams = F.transform(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.element_at(t, i + F.lit(2))),
    )
    bc = (
        docs.select(F.explode(bigrams).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    btot = bc.agg(F.sum("c").cast("double").alias("nb"))
    a = uni.select(F.col("term").alias("_ta"), F.col("c").alias("ca"))
    b = uni.select(F.col("term").alias("_tb"), F.col("c").alias("cb"))
    scored = (
        bc.filter(F.col("c") >= 5)
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .join(a, F.split(F.col("g"), " ")[0] == F.col("_ta"))
        .join(b, F.split(F.col("g"), " ")[1] == F.col("_tb"))
        .select(
            F.col("g").alias("bigram"),
            F.col("c").cast("long").alias("pair_count"),
            round_to(
                F.log(F.col("c") / F.col("nb"))
                - F.log(F.col("ca") / F.col("n"))
                - F.log(F.col("cb") / F.col("n")),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("bigram"))
    top = scored.orderBy(F.col("pmi").desc(), F.col("bigram")).limit(20)
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


NFC_AUDIT_ORACLE = """
SELECT doc_id,
       NOT (text IS NOT DISTINCT FROM nfc_normalize(text)) AS nfc_changed,
       octet_length(encode(text)) AS bytes_raw,
       octet_length(encode(nfc_normalize(text))) AS bytes_nfc
FROM documents
"""


@register("llm_text_normalize_nfc", oracle=NFC_AUDIT_ORACLE, tags=("llm", "text", "udf"))
def llm_text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization audit per document: did NFC change the
    text, and the byte footprint before/after — the canonical first
    stage for multilingual corpora (mixed NFC/NFD sources hash and
    dedup differently for visually identical text).

    The ONE Arrow-batched pandas UDF in the query corpus that is also
    FULLY ORACLED: CPython's unicodedata and DuckDB's nfc_normalize
    (utf8proc) implement the same stability-frozen normalization, so
    the slow-path escape hatch is hash-verified, not trusted
    (operators/normalize.py; combining-mark/Hangul/compat cases pinned
    in tests/test_normalize.py, corpus-level exercise in the unicode
    edge corpus)."""
    from data_pipeline_with_spark_kafka_spark.operators.normalize import (
        nfc_audit_columns,
    )

    docs = load_table(spark, sf_dir, "documents")
    cols = nfc_audit_columns("text")
    return docs.select("doc_id", *cols[1:])
