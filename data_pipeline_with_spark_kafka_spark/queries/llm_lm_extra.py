"""Language-model depth queries: trigram stupid-backoff scoring (the
canonical DISTRIBUTED web-scale LM — Brants et al., EMNLP 2007, built
for exactly this count-aggregate execution shape) and a
Johnson-Lindenstrauss random projection over the embedding table (the
classic scale-path dimensionality reduction: data-independent, one
projection pass, no training), plus in-Spark training of the linear
quality classifier (operators/classifier_train.py).

Both SQL-expressible queries are fully oracled: the backoff model is
count tables + joins, and the JL planes are the md5-derived Rademacher
family DuckDB can re-derive in SQL (same trick as llm_sim_topk_lsh_md5).

Reference parity: the reference repo (arunbalasundar/
data-pipeline-with-spark-kafka) has no LM/embedding surface; these are
[EXT] LLM-curation operators (SURVEY.md §2.11).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
from data_pipeline_with_spark_kafka_spark.operators import similarity
from data_pipeline_with_spark_kafka_spark.operators.text import shingles, tokens
from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table, local_rows

# --------------------------------------------------------------------------
# Trigram LM with stupid backoff (Brants et al. 2007), held-out scoring
# --------------------------------------------------------------------------
#
# Train on even doc_ids, score EVERY document — the real deployment shape
# (score candidate docs against a reference-corpus LM), and the reason the
# backoff path is live: odd docs contain trigrams the train half never saw.
#
#   S(w3 | w1 w2) = c3(w1 w2 w3) / c2(w1 w2)            if the trigram is seen
#                 | 0.4 * c2(w2 w3) / c1(w2)            elif the bigram is seen
#                 | 0.16 * (c1(w3) + 1) / (N + V)       otherwise (add-one unigram)
#
# c* are TRAIN-half counts, N = train token count, V = train vocabulary.

_SB_ALPHA = 0.4

TRIGRAM_BACKOFF_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), tri AS (
    SELECT doc_id,
           t[CAST(i AS INT)] AS w1,
           t[CAST(i AS INT) + 1] AS w2,
           t[CAST(i AS INT) + 2] AS w3
    FROM toks, UNNEST(range(1, GREATEST(len(t) - 1, 1))) AS r(i)
), tric AS (
    SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri WHERE doc_id % 2 = 0
    GROUP BY w1, w2, w3
), bi AS (
    SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
    FROM toks, UNNEST(range(1, len(t))) AS r(i)
    WHERE doc_id % 2 = 0
), bic AS (
    SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2
), uni AS (
    SELECT w, COUNT(*) AS c1
    FROM (SELECT UNNEST(t) AS w FROM toks WHERE doc_id % 2 = 0)
    GROUP BY w
), tot AS (
    SELECT SUM(c1) AS n, COUNT(*) AS v FROM uni
), scored AS (
    SELECT tri.doc_id,
           CASE WHEN tric.c3 IS NOT NULL THEN 0.0 ELSE 1.0 END AS backed_off,
           log10(CASE
               WHEN tric.c3 IS NOT NULL THEN tric.c3 / bp.c2
               WHEN bs.c2 IS NOT NULL THEN 0.4 * bs.c2 / uc.c1
               ELSE 0.16 * (COALESCE(uw.c1, 0) + 1) / (tot.n + tot.v)
           END) AS lp
    FROM tri
    LEFT JOIN tric ON tric.w1 = tri.w1 AND tric.w2 = tri.w2 AND tric.w3 = tri.w3
    LEFT JOIN bic bp ON bp.w1 = tri.w1 AND bp.w2 = tri.w2
    LEFT JOIN bic bs ON bs.w1 = tri.w2 AND bs.w2 = tri.w3
    LEFT JOIN uni uc ON uc.w = tri.w2
    LEFT JOIN uni uw ON uw.w = tri.w3
    CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       ROUND(AVG(lp), 4) AS avg_log10_score,
       ROUND(AVG(backed_off), 4) AS backoff_rate
FROM scored
GROUP BY doc_id
"""


@register(
    "llm_perplexity_trigram_backoff",
    oracle=TRIGRAM_BACKOFF_ORACLE,
    tags=("llm", "scoring"),
)
def llm_perplexity_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff LM scoring (Brants et al. 2007): counts from
    the even-doc_id train half, every doc scored against them, unseen
    trigrams backing off to bigram then add-one unigram mass.

    Scale shape (the paper's whole point): the "model" is three
    count relations built by map-side-combined aggregates — gram-vocabulary
    sized, NOT corpus-sized — and all five count lookups join the DISTINCT
    trigram-type relation (type-space, the MinHash distinct-shingle trade),
    so the corpus-sized stream pays exactly one type->score equi-join
    before the per-doc aggregate. No normalization pass is needed (stupid
    backoff's score is deliberately unnormalized), which is what made it
    tractable on 2007-Google-scale corpora and keeps every stage here a
    plain shuffle-on-key. Docs with < 3 tokens have no trigrams and drop
    out (mirrored by the oracle)."""
    return trigram_backoff_scores(load_table(spark, sf_dir, "documents"))


def trigram_backoff_scores(docs: DataFrame) -> DataFrame:
    """Core of llm_perplexity_trigram_backoff over any (doc_id, text)
    frame — split out so property tests can feed synthetic corpora
    (tests/test_lm_extra.py pins it against a pure-Python stupid-backoff
    reference)."""
    t = tokens(F.col("text"))

    # The trigram stream feeds the train counts (filtered), the distinct
    # type relation, and the final per-doc join — persist it (the dedup.py
    # twice-consumed contract).
    tri = docs.select(
        "doc_id", F.explode(shingles(t, 3, distinct=False)).alias("g")
    ).persist()
    train = F.col("doc_id") % 2 == 0
    # Score in DISTINCT-TRIGRAM-TYPE space (the MinHash distinct-shingle
    # trade): all five count lookups join the type relation — bounded by
    # the trigram vocabulary, not the corpus — and the corpus-sized stream
    # pays exactly ONE equi-join (type -> score) before the per-doc agg.
    types = tri.select("g").distinct().select(
        "g",
        F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(3)).alias("w3"),
    )
    tric = (
        tri.filter(train)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c3"))
        .select(
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(3)).alias("w3"),
            "c3",
        )
    )
    bic = (
        docs.filter(train)
        .select(F.explode(shingles(t, 2, distinct=False)).alias("g"))
        .select(
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    uni = (
        docs.filter(train)
        .select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    tot = uni.agg(F.sum("c1").alias("n"), F.count(F.lit(1)).alias("v"))

    # Precombine in COUNT space (gram-vocabulary-sized relations), so the
    # type relation pays 3 joins instead of 5:
    # - each trigram count carries its prefix-bigram count,
    # - each bigram count carries its context-unigram count.
    bp = bic.select(F.col("w1"), F.col("w2"), F.col("c2").alias("c2p"))
    tric = tric.join(bp, ["w1", "w2"], "left")
    uc = uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1ctx"))
    bs = bic.join(uc, ["w1"], "left").select(
        F.col("w1").alias("w2"),
        F.col("w2").alias("w3"),
        F.col("c2").alias("c2s"),
        "c1ctx",
    )
    uw = uni.select(F.col("w").alias("w3"), F.col("c1").alias("c1w"))

    s = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("c2p"))
        .when(
            F.col("c2s").isNotNull(),
            F.lit(_SB_ALPHA) * F.col("c2s") / F.col("c1ctx"),
        )
        .otherwise(
            F.lit(_SB_ALPHA * _SB_ALPHA)
            * (F.coalesce(F.col("c1w"), F.lit(0)) + F.lit(1))
            / (F.col("n") + F.col("v"))
        )
    )
    type_scores = (
        types.join(tric, ["w1", "w2", "w3"], "left")
        .join(bs, ["w2", "w3"], "left")
        .join(uw, ["w3"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "g",
            F.when(F.col("c3").isNotNull(), F.lit(0.0)).otherwise(F.lit(1.0)).alias("backed_off"),
            F.log10(s).alias("lp"),
        )
    )
    return (
        tri.join(type_scores, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            round_to(F.avg("lp"), 4).alias("avg_log10_score"),
            round_to(F.avg("backed_off"), 4).alias("backoff_rate"),
        )
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (64 -> 16 dims)
# --------------------------------------------------------------------------
#
# y = (1/sqrt(k)) * R v with R a Rademacher(+-1) matrix (Achlioptas 2001:
# sign matrices satisfy the JL lemma) — here the md5-derived family
# ('rp{p}:{d}') that DuckDB re-derives in SQL, so projected norms are
# cross-engine checkable bit-for-bit before rounding.

_JL_K = 16
_JL_DIM = 64
_JL_SCALE = 0.25  # 1/sqrt(16)

RANDOM_PROJECTION_ORACLE = f"""
WITH pl AS (
    SELECT p.p,
           list(CASE WHEN CAST(('0x' || substr(md5('rp' || p.p || ':' || d.d), 1, 1)) AS INT) % 2 = 1
                     THEN 1.0 ELSE -1.0 END ORDER BY d.d) AS w
    FROM (SELECT unnest(range(0, {_JL_K})) AS p) p,
         (SELECT unnest(range(0, {_JL_DIM})) AS d) d
    GROUP BY p.p
), ws AS (
    SELECT list(w ORDER BY p) AS ws FROM pl
), e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), proj AS (
    SELECT vec_id, v,
           [list_dot_product(v, w) FOR w IN ws.ws] AS s
    FROM e, ws
)
SELECT vec_id,
       ROUND(sqrt(list_dot_product(v, v)), 4) AS orig_norm,
       ROUND({_JL_SCALE} * sqrt(list_sum([x * x FOR x IN s])), 4) AS proj_norm,
       ROUND({_JL_SCALE} * sqrt(list_sum([x * x FOR x IN s]))
             / sqrt(list_dot_product(v, v)), 4) AS distortion
FROM proj
"""


@register(
    "llm_emb_random_projection",
    oracle=RANDOM_PROJECTION_ORACLE,
    tags=("llm", "embedding"),
)
def llm_emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection of the embedding table to 16 dims with the
    norm-distortion ratio per vector (the JL lemma's guarantee made
    observable: distortion concentrates near 1).

    Scale shape: data-INDEPENDENT dimensionality reduction — the 16x64
    sign matrix is plan-time literals (nothing is trained, nothing is
    broadcast), and the whole projection is a per-row expression tree:
    zero shuffles, zero UDFs, one scan. This is the preprocessing step
    that makes downstream ANN/dedup tiers 4x narrower at 100 TB. PCA
    (emb_pca_project) is the data-dependent alternative; JL is what you
    use when you can't afford the covariance pass."""
    planes = similarity.make_planes_md5(_JL_DIM, _JL_K, prefix="rp")
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # Bind each projected component to an attribute BEFORE consuming them
    # (the winnowing lambda-inlining lesson): downstream refs must not
    # re-inline 16 fold expressions.
    dot_cols = []
    for j in range(_JL_K):
        plane = F.array(*[F.lit(float(x)) for x in planes[j]])
        dot_cols.append(
            F.aggregate(
                F.zip_with("v", plane, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias(f"s{j}")
        )
    staged = e.select("vec_id", "v", *dot_cols)
    # Fixed left-to-right summation order (j = 0..15) — matches the
    # oracle's list_sum over the p-ordered comprehension, so the doubles
    # are identical before rounding.
    sumsq = reduce(
        lambda acc, j: acc + F.col(f"s{j}") * F.col(f"s{j}"), range(_JL_K), F.lit(0.0)
    )
    onorm = F.sqrt(
        F.aggregate(
            F.zip_with("v", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    out = staged.select(
        "vec_id",
        onorm.alias("_onorm"),
        (F.lit(_JL_SCALE) * F.sqrt(sumsq)).alias("_pnorm"),
    )
    return out.select(
        "vec_id",
        round_to(F.col("_onorm"), 4).alias("orig_norm"),
        round_to(F.col("_pnorm"), 4).alias("proj_norm"),
        round_to(F.col("_pnorm") / F.col("_onorm"), 4).alias("distortion"),
    )


# --------------------------------------------------------------------------
# In-Spark classifier training (iterative GD loop, oracled by unrolling)
# --------------------------------------------------------------------------

_TRAIN_FEATURES = ["log_tokens", "mean_word_len", "dup_bigram_ratio", "top_token_ratio"]
_TRAIN_ITERS = 30
_TRAIN_LR = 1.0


def _train_logreg_oracle(iters: int = _TRAIN_ITERS, lr: float = _TRAIN_LR) -> str:
    """The FULL gradient-descent training loop unrolled as ``iters``
    chained CTE stages (the pattern that oracled BPE and MMR): stage i
    holds the 1-row weight state w{i}; g{i} recomputes the k+2 gradient
    scalars from the standardized feature relation; w{i+1} applies the
    step. Cross-engine float safety: the feature inputs are bit-identical
    (gopher metrics are 4dp-rounded on both engines; log10 of the same
    integer agrees to the ulp), the margin sums in the same left-to-right
    feature order as operators/classifier_train._margin, and the GD map
    is contractive on standardized features (|1 - lr*lambda| <= 1), so
    partial-aggregation-order ulps never grow past the 4dp output
    rounding. Verified hash-MATCH at sf0.001/sf0.01/sf0.1 and across the
    3 fuzz seeds."""
    from data_pipeline_with_spark_kafka_spark.queries.text_extra import GOPHER_ORACLE

    sql = [f"""
WITH feats AS MATERIALIZED (
    SELECT CAST(passes AS DOUBLE) AS y,
           LOG10(CAST(n_tokens AS DOUBLE)) AS f1,
           CAST(mean_word_len AS DOUBLE) AS f2,
           CAST(dup_bigram_ratio AS DOUBLE) AS f3,
           CAST(top_token_ratio AS DOUBLE) AS f4
    FROM ({GOPHER_ORACLE})
), stats AS MATERIALIZED (
    SELECT AVG(f1) AS m1, GREATEST(STDDEV_POP(f1), 1e-12) AS s1,
           AVG(f2) AS m2, GREATEST(STDDEV_POP(f2), 1e-12) AS s2,
           AVG(f3) AS m3, GREATEST(STDDEV_POP(f3), 1e-12) AS s3,
           AVG(f4) AS m4, GREATEST(STDDEV_POP(f4), 1e-12) AS s4,
           CAST(COUNT(*) AS DOUBLE) AS n
    FROM feats
), z AS MATERIALIZED (
    SELECT y,
           (f1 - (SELECT m1 FROM stats)) / (SELECT s1 FROM stats) AS z1,
           (f2 - (SELECT m2 FROM stats)) / (SELECT s2 FROM stats) AS z2,
           (f3 - (SELECT m3 FROM stats)) / (SELECT s3 FROM stats) AS z3,
           (f4 - (SELECT m4 FROM stats)) / (SELECT s4 FROM stats) AS z4
    FROM feats
), w0 AS MATERIALIZED (
    SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4,
           0.0 AS b, 0.0 AS loss
)"""]
    for i in range(iters):
        sql.append(f"""
, p{i} AS (
    SELECT y, z1, z2, z3, z4,
           1.0 / (1.0 + EXP(-((SELECT b FROM w{i})
               + z1 * (SELECT w1 FROM w{i})
               + z2 * (SELECT w2 FROM w{i})
               + z3 * (SELECT w3 FROM w{i})
               + z4 * (SELECT w4 FROM w{i})))) AS p
    FROM z
), g{i} AS (
    SELECT AVG((p - y) * z1) AS g1, AVG((p - y) * z2) AS g2,
           AVG((p - y) * z3) AS g3, AVG((p - y) * z4) AS g4,
           AVG(p - y) AS gb,
           AVG(-(y * LN(p + 1e-12) + (1.0 - y) * LN(1.0 - p + 1e-12))) AS loss
    FROM p{i}
), w{i + 1} AS MATERIALIZED (
    SELECT w.w1 - {lr} * g.g1 AS w1, w.w2 - {lr} * g.g2 AS w2,
           w.w3 - {lr} * g.g3 AS w3, w.w4 - {lr} * g.g4 AS w4,
           w.b - {lr} * g.gb AS b, g.loss AS loss
    FROM w{i} w, g{i} g
)""")
    sql.append(f"""
, acc AS (
    SELECT AVG(CASE WHEN (CASE WHEN 1.0 / (1.0 + EXP(-((SELECT b FROM w{iters})
               + z1 * (SELECT w1 FROM w{iters})
               + z2 * (SELECT w2 FROM w{iters})
               + z3 * (SELECT w3 FROM w{iters})
               + z4 * (SELECT w4 FROM w{iters})))) >= 0.5
                          THEN 1.0 ELSE 0.0 END) = y
                    THEN 1.0 ELSE 0.0 END) AS acc
    FROM z
)
SELECT term, value FROM (
    SELECT 'weight:log_tokens' AS term, ROUND(w1, 4) AS value FROM w{iters}
    UNION ALL SELECT 'weight:mean_word_len', ROUND(w2, 4) FROM w{iters}
    UNION ALL SELECT 'weight:dup_bigram_ratio', ROUND(w3, 4) FROM w{iters}
    UNION ALL SELECT 'weight:top_token_ratio', ROUND(w4, 4) FROM w{iters}
    UNION ALL SELECT 'bias', ROUND(b, 4) FROM w{iters}
    UNION ALL SELECT 'final_log_loss', ROUND(loss, 4) FROM w{iters}
    UNION ALL SELECT 'train_accuracy', ROUND(acc, 4) FROM acc
    UNION ALL SELECT 'n_rows', (SELECT n FROM stats)
) ORDER BY term""")
    return "".join(sql)


def _round4_half_away(x: float) -> float:
    """DuckDB ROUND semantics on a driver-side double: round the scaled
    product half-away-from-zero (the functions/rounding.round_to contract,
    applied in Python because the trainer's outputs are collected scalars,
    not columns). Python's built-in round() is half-even on the exact
    decimal expansion — it disagrees with the oracle exactly on the .5
    boundaries this form pins down."""
    import math

    return math.copysign(math.floor(abs(x) * 1e4 + 0.5), x) / 1e4


def _classifier_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher metrics -> (doc_id, label, 4 double features). The label is
    the expensive conjunctive rule; the features are its cheap inputs —
    the distillation setup."""
    from data_pipeline_with_spark_kafka_spark.queries.text_extra import (
        llm_quality_gopher,
    )

    return classifier_features(llm_quality_gopher(spark, sf_dir))


def classifier_features(g: DataFrame) -> DataFrame:
    """(doc_id, label, features) from a gopher-metrics frame — shared by
    the registered trainer query and the run.py train-quality CLI."""
    return g.select(
        "doc_id",
        F.col("passes").cast("double").alias("label"),
        F.log10(F.col("n_tokens").cast("double")).alias("log_tokens"),
        F.col("mean_word_len").cast("double").alias("mean_word_len"),
        F.col("dup_bigram_ratio").cast("double").alias("dup_bigram_ratio"),
        F.col("top_token_ratio").cast("double").alias("top_token_ratio"),
    )


@register(
    "llm_train_quality_classifier",
    oracle=_train_logreg_oracle(),
    tags=("llm", "quality", "iterative"),
)
def llm_train_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the linear quality classifier IN Spark (full-batch logistic
    regression, operators/classifier_train.py): distill the Gopher rule
    stack into a 4-weight linear model, then report the learned weights
    and the training-set accuracy/loss the trainer returns with them.

    FULLY ORACLED since round 7: the 30 deterministic GD iterations
    replay in DuckDB as chained 1-row CTE stages (_train_logreg_oracle —
    the BPE/MMR unrolling pattern applied to a training loop). The loop
    is additionally pinned iteration-for-iteration against a numpy
    reference in tests/test_classifier_train.py. The feature frame is a
    few hundred rows x 5 doubles here, so ``train_logreg`` takes its
    driver tier: the Gopher pipeline runs once, in the one collect that
    feeds the stats, all 30 iterations and the accuracy. A corpus past
    the broadcast threshold runs one aggregate job per iteration instead
    (the distributed tier)."""
    from data_pipeline_with_spark_kafka_spark.operators.classifier_train import train_logreg

    feats = _classifier_feature_frame(spark, sf_dir)
    model = train_logreg(
        feats,
        _TRAIN_FEATURES,
        "label",
        iters=_TRAIN_ITERS,
        lr=_TRAIN_LR,
    )
    rows = [
        (f"weight:{name}", _round4_half_away(w))
        for name, w in zip(model.features, model.weights)
    ]
    rows.append(("bias", _round4_half_away(model.bias)))
    rows.append(("final_log_loss", _round4_half_away(model.losses[-1])))
    rows.append(("train_accuracy", _round4_half_away(model.accuracy)))
    rows.append(("n_rows", float(model.n_rows)))
    return local_rows(spark, rows, "term string, value double").orderBy("term")
