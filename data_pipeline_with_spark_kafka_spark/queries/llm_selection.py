"""Corpus-selection queries: DSIR importance weighting and SQ8-quantized
similarity search.

Both pipelines are FULLY cross-engine oracled — the md5 bucket hash, the
add-one-smoothed log-ratios, the floor-arithmetic int8 codec, and the
in-order dot-product folds are all bit-reproducible in DuckDB, so the
driver's hash comparator verifies the whole computation, not a sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators import importance, mmr, quantization, similarity
from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.sources.tables import (
    FIXTURES_DIR,
    load_table,
    load_table_fanned,
)

DSIR_ORACLE = """
WITH toks AS (
    -- NULL text has no n-grams -> no importance weight; excluded on both
    -- engines (round-8 all-NULL edge corpus).
    SELECT doc_id, lang = 'en' AS is_tgt, string_split(text, ' ') AS t
    FROM documents WHERE text IS NOT NULL
), grams AS (
    SELECT doc_id, is_tgt, unnest(t) AS g FROM toks
    UNION ALL
    SELECT doc_id, is_tgt,
           unnest([t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]
                   for i in range(1, len(t))]) AS g
    FROM toks
), bucketed AS (
    SELECT doc_id, is_tgt, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 256 AS b
    FROM grams
), stats AS (
    SELECT b, SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tc, COUNT(*) AS rc
    FROM bucketed GROUP BY b
), tot AS (
    SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM stats
), w AS (
    SELECT b, ln((tc + 1.0) / (tt + 256.0)) - ln((rc + 1.0) / (rt + 256.0)) AS lw
    FROM stats, tot
), scored AS (
    SELECT doc_id, ROUND(SUM(lw) * 1000000) / 1000000 AS dsir_weight
    FROM bucketed JOIN w USING (b) GROUP BY doc_id
)
SELECT doc_id, dsir_weight,
       CAST(ROW_NUMBER() OVER (ORDER BY dsir_weight DESC, doc_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 50
"""


@register("llm_dsir_importance_topk", oracle=DSIR_ORACLE, tags=("llm", "selection", "text"))
def llm_dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-ngram importance selection (Xie et al. 2023): rank every
    document by ln p_target/p_raw summed over its md5-bucketed
    unigrams+bigrams (target = lang='en'), keep the top 50. Stats pass is
    a 256-group aggregate; scoring is a zero-shuffle expression fold
    against the bucket-weight literal (`operators/importance.py`)."""
    docs = load_table_fanned(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return importance.dsir_topk(
        docs,
        "doc_id",
        "text",
        F.col("lang") == "en",
        k=50,
    )


SQ8_TOPK_ORACLE = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (
    SELECT d.d, MIN(v[d.d + 1]) AS mn, (MAX(v[d.d + 1]) - MIN(v[d.d + 1])) / 255.0 AS sc
    FROM e, range(0, 64) d(d) GROUP BY d.d
), rec AS (
    SELECT e.vec_id, s.d,
           CASE WHEN s.sc = 0 THEN s.mn
                ELSE s.mn + LEAST(GREATEST(FLOOR((e.v[CAST(s.d AS INT) + 1] - s.mn) / s.sc + 0.5), 0), 255) * s.sc
           END AS r
    FROM e, dims s
), recl AS (
    SELECT vec_id, list(r ORDER BY d) AS rv FROM rec GROUP BY vec_id
), q AS (
    SELECT v AS qv FROM e WHERE vec_id = 0
), adc AS (
    SELECT e.vec_id, e.v, q.qv,
           ROUND(list_dot_product(recl.rv, q.qv)
                 / (sqrt(list_dot_product(recl.rv, recl.rv)) * sqrt(list_dot_product(q.qv, q.qv)))
                 * 1000000) / 1000000 AS adc_cosine
    FROM e JOIN recl USING (vec_id), q
    ORDER BY adc_cosine DESC, e.vec_id
    LIMIT 50
)
SELECT vec_id, adc_cosine,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
             * 1000000) / 1000000 AS cosine
FROM adc ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register("llm_sim_topk_sq8", oracle=SQ8_TOPK_ORACLE, tags=("llm", "similarity", "quantization"))
def llm_sim_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) ANN: asymmetric-distance top-50 over the
    8-bit-decoded corpus, exact rerank to top-10 — the 4x-smaller-index
    scan shape (`operators/quantization.py`). DuckDB mirrors the codec's
    floor arithmetic exactly, so both the ADC scores and the reranked
    cosines hash-match."""
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    mins, scales = quantization.sq8_train(emb, "embedding", 64)
    return similarity.vector_topk(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") == 0),
        k=10,
        prerank=similarity.Adc(lambda v: quantization.sq8_reconstruct(v, mins, scales), pool=50),
    )


IVF_SQ8_ORACLE = f"""
WITH cents AS (
    SELECT cid, centroid FROM read_parquet('{FIXTURES_DIR}/ivf_centroids_k8.parquet')
), e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (
    SELECT d.d, MIN(v[d.d + 1]) AS mn, (MAX(v[d.d + 1]) - MIN(v[d.d + 1])) / 255.0 AS sc
    FROM e, range(0, 64) d(d) GROUP BY d.d
), members AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c.centroid), c.cid) AS rn
        FROM e CROSS JOIN cents c
    ) WHERE rn <= 1
), q AS (
    SELECT v AS qv FROM e WHERE vec_id = 0
), probes AS (
    SELECT cid, qv FROM (
        SELECT c.cid, q.qv,
               ROW_NUMBER() OVER (ORDER BY list_distance(q.qv, c.centroid), c.cid) AS rn
        FROM q CROSS JOIN cents c
    ) WHERE rn <= 3
), cand AS (
    SELECT m.vec_id, m.v, p.qv FROM members m JOIN probes p ON m.cid = p.cid
), rec AS (
    SELECT c.vec_id, s.d,
           CASE WHEN s.sc = 0 THEN s.mn
                ELSE s.mn + LEAST(GREATEST(FLOOR((c.v[CAST(s.d AS INT) + 1] - s.mn) / s.sc + 0.5), 0), 255) * s.sc
           END AS r
    FROM cand c, dims s
), recl AS (
    SELECT vec_id, list(r ORDER BY d) AS rv FROM rec GROUP BY vec_id
), adc AS (
    SELECT c.vec_id, c.v, c.qv,
           ROUND(list_dot_product(recl.rv, c.qv)
                 / (sqrt(list_dot_product(recl.rv, recl.rv)) * sqrt(list_dot_product(c.qv, c.qv)))
                 * 1000000) / 1000000 AS adc_cosine
    FROM cand c JOIN recl USING (vec_id)
    ORDER BY adc_cosine DESC, c.vec_id
    LIMIT 50
)
SELECT vec_id, adc_cosine,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
             * 1000000) / 1000000 AS cosine
FROM adc ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register(
    "llm_sim_topk_ivf_sq8", oracle=IVF_SQ8_ORACLE, tags=("llm", "similarity", "quantization")
)
def llm_sim_topk_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 ANN (the FAISS ``IVF8,SQ8`` composition): 3-probe coarse
    cells bound the candidates, int8 ADC bounds the bytes, exact rerank
    restores precision. Both learned artifacts — the k8 quantizer fixture
    and the per-dim codebook — are mirrored by the DuckDB oracle, so the
    full composed pipeline is hash-verified."""
    from data_pipeline_with_spark_kafka_spark.queries.llm_fast_paths import _quantizer_rows

    emb = load_table_fanned(spark, sf_dir, "embeddings")
    rows = _quantizer_rows(emb, fixture="ivf_centroids_k8", k=8, iterations=2)
    mins, scales = quantization.sq8_train(emb, "embedding", 64)
    return similarity.vector_topk(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") == 0),
        k=10,
        probe=similarity.Ivf(rows, n_probe=3),
        prerank=similarity.Adc(lambda v: quantization.sq8_reconstruct(v, mins, scales), pool=50),
    )


TEMP_MIXTURE_ORACLE = """
WITH cnt AS (
    SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), shares AS (
    SELECT lang, n,
           sqrt(n) / SUM(sqrt(n)) OVER () AS p
    FROM cnt
), budget AS (
    SELECT MIN(n / p) AS nb FROM shares
), frac AS (
    SELECT s.lang, ROUND(s.p * b.nb / s.n * 10000) / 10000 AS keep_frac
    FROM shares s, budget b
)
SELECT d.doc_id, d.lang, f.keep_frac
FROM documents d
JOIN frac f ON f.lang = d.lang
WHERE CAST(('0x' || SUBSTRING(md5('mixT:' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967296.0 < f.keep_frac
"""


@register(
    "llm_mixture_temperature", oracle=TEMP_MIXTURE_ORACLE, tags=("llm", "curation", "sampling")
)
def llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (alpha=0.5 — the multilingual-LM
    reweighting of Conneau & Lample 2019): target share p_i ∝ n_i^0.5,
    corpus budget = the largest size at which no domain oversamples
    (min n_i/p_i), per-domain keep_frac = p_i*budget/n_i. Softer than
    `llm_domain_mixture`'s uniform balance — high-resource domains keep a
    sqrt-scaled advantage instead of being clipped to the minimum.
    Acceptance is the same deterministic md5-uniform as the uniform
    mixture, on the ROUNDED fraction (cross-engine identical), so the
    sample itself is hash-verified. Stats side is a 5-row domain relation;
    the corpus side is one broadcast-join + filter scan."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    shares = cnt.select(
        "lang",
        F.col("n"),
        (F.sqrt("n") / F.sum(F.sqrt("n")).over(w)).alias("p"),
    )
    frac = shares.select(
        "lang",
        (
            F.round(F.col("p") * F.min(F.col("n") / F.col("p")).over(w) / F.col("n") * 10000, 0)
            / 10000
        ).alias("keep_frac"),
    )
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("mixT:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
        / F.lit(4294967296.0)
    )
    # no broadcast hint: frac's subtree scans the sf-proportional docs
    # table, so the hint would defeat AQE's right to demote at scale —
    # the planner elects the broadcast itself (5-row aggregate side).
    return (
        docs.join(frac, "lang")
        .filter(u < F.col("keep_frac"))
        .select("doc_id", "lang", "keep_frac")
    )


HARD_NEG_ORACLE = """
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), a AS (
    SELECT vec_id AS anchor_id, label AS anchor_label, v AS av
    FROM e WHERE vec_id < 8
), scored AS (
    SELECT a.anchor_id,
           e.vec_id AS negative_id,
           e.label AS negative_label,
           ROUND(list_dot_product(e.v, a.av)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(a.av, a.av)))
                 * 1000000) / 1000000 AS cosine
    FROM e JOIN a ON e.label <> a.anchor_label
)
SELECT anchor_id, negative_id, negative_label, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY cosine DESC, negative_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 3
"""


@register(
    "llm_hard_negative_mining", oracle=HARD_NEG_ORACLE, tags=("llm", "similarity", "selection")
)
def llm_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each of 8 anchor
    vectors, the 3 most-similar vectors with a DIFFERENT label — the
    near-miss negatives that make embedding models learn boundaries.
    Same broadcast-anchors + WindowGroupLimit shape as the exact k-NN
    join; the label inequality rides the join condition so same-label
    rows never reach the window."""
    from pyspark.sql import Window

    from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
    from data_pipeline_with_spark_kafka_spark.operators import similarity as sim

    emb = load_table_fanned(spark, sf_dir, "embeddings")
    anchors = (
        emb.filter(F.col("vec_id") < 8)
        .limit(8)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            sim.as_double(F.col("embedding")).alias("av"),
        )
        .withColumn("an", sim.l2_norm(F.col("av")))
    )
    # Norm hoist (similarity.cosine_pre contract): each embedding row
    # matches ~7 of the 8 anchors, so the inline form re-ran the 64-wide
    # cast + norm folds 7x per row; bound once here, the per-match work
    # is the dot fold alone.
    fact = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        sim.as_double(F.col("embedding")).alias("_v"),
    ).withColumn("_n", sim.l2_norm(F.col("_v")))
    scored = (
        fact.join(F.broadcast(anchors), F.col("negative_label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "negative_id",
            "negative_label",
            round_to(
                sim.cosine_pre(F.col("_v"), F.col("_n"), F.col("av"), F.col("an")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cosine").desc(), F.col("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


@register(
    "llm_mmr_diversified_topk",
    oracle=mmr.mmr_oracle_sql(k=8, pool=30, lam=0.7),
    tags=("llm", "selection", "similarity", "pandas-udf"),
)
def llm_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-8 (Carbonell &
    Goldstein 1998) out of an exact cosine top-30 pool for the vec_id=0
    query — relevance vs redundancy at lambda=0.7. The greedy is a bounded
    per-query applyInPandas kernel; the DuckDB oracle replays it as an
    unrolled 8-step CTE chain (`operators/mmr.py`), so even this iterative
    selection is fully hash-verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    return mmr.mmr_select(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") == 0),
        k=8,
        pool=30,
        lam=0.7,
    )


BINARY_SIGN_ORACLE = """
WITH e AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), words AS MATERIALIZED (
    SELECT vec_id, v,
           CAST(SUM(CASE WHEN v[d.d + 1] >= 0 THEN (1::BIGINT << (31 - d.d)) ELSE 0 END) AS BIGINT) AS w1,
           CAST(SUM(CASE WHEN v[d.d + 33] >= 0 THEN (1::BIGINT << (31 - d.d)) ELSE 0 END) AS BIGINT) AS w2
    FROM e, range(0, 32) d(d)
    GROUP BY vec_id, v
), q AS (
    SELECT v AS qv, w1 AS qw1, w2 AS qw2 FROM words WHERE vec_id = 0
), pool AS (
    SELECT w.vec_id, w.v, q.qv,
           CAST(bit_count(xor(w.w1, q.qw1)) + bit_count(xor(w.w2, q.qw2)) AS INT) AS hamming
    FROM words w, q
    ORDER BY hamming ASC, w.vec_id
    LIMIT 100
)
SELECT vec_id, hamming,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
             * 1000000) / 1000000 AS cosine
FROM pool ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register(
    "llm_sim_topk_binary", oracle=BINARY_SIGN_ORACLE, tags=("llm", "similarity", "quantization")
)
def llm_sim_topk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit sign-binarized ANN (Charikar 2002 angle estimate): Hamming
    pre-rank over packed sign words (32x smaller than float32), exact
    cosine rerank of the top-100 pool — the floor of the quantization
    ladder (exact → SQ8 → 1-bit), data-independent so there is no
    training pass at all. Fully oracled: DuckDB mirrors the MSB-first
    word fold, xor/bit_count Hamming, and both rank cuts."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.vector_topk(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") == 0),
        k=10,
        prerank=similarity.Hamming(dim=64, pool=100),
    )


SQ8_ERROR_ORACLE = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (
    SELECT d.d, MIN(v[d.d + 1]) AS mn, (MAX(v[d.d + 1]) - MIN(v[d.d + 1])) / 255.0 AS sc
    FROM e, range(0, 64) d(d) GROUP BY d.d
), rec AS (
    SELECT e.vec_id, s.d,
           ABS(e.v[CAST(s.d AS INT) + 1] -
               CASE WHEN s.sc = 0 THEN s.mn
                    ELSE s.mn + LEAST(GREATEST(FLOOR((e.v[CAST(s.d AS INT) + 1] - s.mn) / s.sc + 0.5), 0), 255) * s.sc
               END) AS err
    FROM e, dims s
)
SELECT CAST(64 AS INT) AS dim,
       ROUND(SUM(err) / COUNT(*) * 1000000) / 1000000 AS mean_abs_err,
       ROUND(MAX(err) * 1000000) / 1000000 AS max_abs_err
FROM rec
"""


@register("llm_emb_sq8_error", oracle=SQ8_ERROR_ORACLE, tags=("llm", "quantization", "diagnostic"))
def llm_emb_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 codec audit: corpus-wide mean/max absolute reconstruction error
    in one map-only pass (max is bounded by half a quantization step —
    property-tested in tests/test_quantization.py)."""
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    return quantization.sq8_reconstruction_error(
        emb, "embedding", dim=64
    )


LABEL_PRECISION_ORACLE = """
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
    SELECT vec_id AS query_id, label AS anchor_label, v AS qv
    FROM e WHERE vec_id < 16
), scored AS (
    SELECT q.query_id, q.anchor_label, e.label AS nlabel,
           ROUND(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                 * 1000000) / 1000000 AS cosine,
           e.vec_id AS neighbor_id
    FROM e JOIN q ON e.vec_id <> q.query_id
), topk AS (
    SELECT query_id, anchor_label, nlabel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
    QUALIFY rank <= 10
)
SELECT query_id, anchor_label,
       ROUND(SUM(CASE WHEN nlabel = anchor_label THEN 1.0 ELSE 0.0 END) / 10 * 10000)
           / 10000 AS precision_at_10
FROM topk
GROUP BY query_id, anchor_label
"""


@register(
    "llm_retrieval_label_precision",
    oracle=LABEL_PRECISION_ORACLE,
    tags=("llm", "similarity", "diagnostic"),
)
def llm_retrieval_label_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space retrieval QUALITY metric: precision@10 of exact
    k-NN under label agreement, per anchor (16 anchors) — the standard
    intrinsic eval for an embedding column before trusting it for
    dedup/ANN (low label precision = the cosine geometry doesn't reflect
    the grouping the pipeline assumes). Same broadcast-anchor
    WindowGroupLimit shape as the k-NN join; the metric aggregate runs on
    k*anchors rows."""
    from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
    from data_pipeline_with_spark_kafka_spark.operators import similarity as sim

    emb = load_table_fanned(spark, sf_dir, "embeddings")
    knn = sim.knn_join_exact(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") < 16), k=10, query_limit=16
    )
    labels = emb.select("vec_id", "label")
    anchors = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("anchor_label")
    )
    neigh = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    # no broadcast hints: both label relations scan the sf-proportional
    # embeddings table, so the hints would defeat AQE's right to demote
    # at scale — the planner elects the broadcasts itself (the knn side
    # is k*anchors rows; the label sides are narrow projections).
    return (
        knn.join(anchors, "query_id")
        .join(neigh, "neighbor_id")
        .groupBy("query_id", "anchor_label")
        .agg(
            round_to(
                F.sum(F.when(F.col("nlabel") == F.col("anchor_label"), 1.0).otherwise(0.0)) / 10,
                4,
            ).alias("precision_at_10")
        )
    )


# --------------------------------------------------------------------------
# Product quantization (the remaining canonical FAISS family next to SQ8 /
# IVF-SQ8 / binary-sign): m=8 subspaces x k=16 centroids, 4-bit codes —
# 4 bytes/vector vs 256 for float32. Codebooks are the committed offline
# artifact fixtures/pq_codebooks_m8_k16.parquet (tools/gen_pq_fixture.py);
# the oracle reads the SAME parquet, so assignment (squared-L2 argmin,
# lowest-cid tie-break), reconstruction, ADC scoring, and the exact rerank
# are all mirrored bit-for-bit before the 1e-6 rounding.

PQ_TOPK_ORACLE = f"""
WITH cb AS (
    SELECT subspace, cid, centroid
    FROM read_parquet('{FIXTURES_DIR}/pq_codebooks_m8_k16.parquet')
), e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), sub AS (
    SELECT vec_id, s.s, v[CAST(s.s * 8 + 1 AS INT) : CAST(s.s * 8 + 8 AS INT)] AS sv
    FROM e, range(0, 8) s(s)
), dist AS (
    SELECT sub.vec_id, sub.s, cb.cid, cb.centroid,
           list_sum([(sv[CAST(i AS INT)] - centroid[CAST(i AS INT)])
                     * (sv[CAST(i AS INT)] - centroid[CAST(i AS INT)])
                     FOR i IN range(1, 9)]) AS d
    FROM sub JOIN cb ON cb.subspace = sub.s
), chosen AS (
    SELECT vec_id, s, centroid
    FROM dist
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1
), rec AS (
    SELECT vec_id, flatten(list(centroid ORDER BY s)) AS rv FROM chosen GROUP BY vec_id
), q AS (
    SELECT v AS qv FROM e WHERE vec_id = 0
), adc AS (
    SELECT e.vec_id, e.v, q.qv,
           ROUND(list_dot_product(rec.rv, q.qv)
                 / (sqrt(list_dot_product(rec.rv, rec.rv)) * sqrt(list_dot_product(q.qv, q.qv)))
                 * 1000000) / 1000000 AS adc_cosine
    FROM e JOIN rec USING (vec_id), q
    ORDER BY adc_cosine DESC, e.vec_id
    LIMIT 50
)
SELECT vec_id, adc_cosine,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
             * 1000000) / 1000000 AS cosine
FROM adc ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register("llm_sim_topk_pq", oracle=PQ_TOPK_ORACLE, tags=("llm", "similarity", "quantization"))
def llm_sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (Jegou et al. 2011): per-subspace nearest-
    centroid reconstruction from the committed codebook fixture, ADC
    cosine top-50 scan, exact rerank to top-10. Map-only scan + two
    TakeOrdered heaps — the corpus never shuffles, and at 4 bits per
    subspace the stored index is 64x smaller than the float32 vectors
    (`operators/similarity.vector_topk`)."""
    codebooks = quantization.fixture_pq_codebooks()
    if codebooks is None:
        raise RuntimeError(
            "missing fixtures/pq_codebooks_m8_k16.parquet — run tools/gen_pq_fixture.py"
        )
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    return similarity.vector_topk(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") == 0),
        k=10,
        prerank=similarity.Adc(lambda v: quantization.pq_reconstruct(v, codebooks), pool=50),
    )


IVF_PQ_ORACLE = f"""
WITH cents AS (
    SELECT cid, centroid FROM read_parquet('{FIXTURES_DIR}/ivf_centroids_k8.parquet')
), cb AS (
    SELECT subspace, cid AS pcid, centroid AS pcent
    FROM read_parquet('{FIXTURES_DIR}/pq_codebooks_m8_k16.parquet')
), e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), members AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c.centroid), c.cid) AS rn
        FROM e CROSS JOIN cents c
    ) WHERE rn <= 1
), q AS (
    SELECT v AS qv FROM e WHERE vec_id = 0
), probes AS (
    SELECT cid, qv FROM (
        SELECT c.cid, q.qv,
               ROW_NUMBER() OVER (ORDER BY list_distance(q.qv, c.centroid), c.cid) AS rn
        FROM q CROSS JOIN cents c
    ) WHERE rn <= 3
), cand AS (
    SELECT m.vec_id, m.v, p.qv FROM members m JOIN probes p ON m.cid = p.cid
), sub AS (
    SELECT vec_id, s.s, v[CAST(s.s * 8 + 1 AS INT) : CAST(s.s * 8 + 8 AS INT)] AS sv
    FROM cand, range(0, 8) s(s)
), dist AS (
    SELECT sub.vec_id, sub.s, cb.pcid, cb.pcent,
           list_sum([(sv[CAST(i AS INT)] - pcent[CAST(i AS INT)])
                     * (sv[CAST(i AS INT)] - pcent[CAST(i AS INT)])
                     FOR i IN range(1, 9)]) AS d
    FROM sub JOIN cb ON cb.subspace = sub.s
), chosen AS (
    SELECT vec_id, s, pcent
    FROM dist
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, pcid) = 1
), rec AS (
    SELECT vec_id, flatten(list(pcent ORDER BY s)) AS rv FROM chosen GROUP BY vec_id
), adc AS (
    SELECT c.vec_id, c.v, c.qv,
           ROUND(list_dot_product(rec.rv, c.qv)
                 / (sqrt(list_dot_product(rec.rv, rec.rv)) * sqrt(list_dot_product(c.qv, c.qv)))
                 * 1000000) / 1000000 AS adc_cosine
    FROM cand c JOIN rec USING (vec_id)
    ORDER BY adc_cosine DESC, c.vec_id
    LIMIT 50
)
SELECT vec_id, adc_cosine,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
             * 1000000) / 1000000 AS cosine
FROM adc ORDER BY cosine DESC, vec_id LIMIT 10
"""


@register(
    "llm_sim_topk_ivf_pq", oracle=IVF_PQ_ORACLE, tags=("llm", "similarity", "quantization")
)
def llm_sim_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — FAISS's ``IVF8,PQ8`` composition, THE billion-vector
    index layout: 3-probe coarse cells bound the candidates, 4-bit PQ
    codes bound the bytes (4 B/vector), exact rerank restores precision.
    Both learned artifacts are committed fixtures the DuckDB oracle also
    reads, so the fully composed pipeline is hash-verified end-to-end."""
    from data_pipeline_with_spark_kafka_spark.queries.llm_fast_paths import _quantizer_rows

    codebooks = quantization.fixture_pq_codebooks()
    if codebooks is None:
        raise RuntimeError(
            "missing fixtures/pq_codebooks_m8_k16.parquet — run tools/gen_pq_fixture.py"
        )
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    rows = _quantizer_rows(emb, fixture="ivf_centroids_k8", k=8, iterations=2)
    return similarity.vector_topk(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") == 0),
        k=10,
        probe=similarity.Ivf(rows, n_probe=3),
        prerank=similarity.Adc(lambda v: quantization.pq_reconstruct(v, codebooks), pool=50),
    )


NDCG_MRR_ORACLE = """
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
    SELECT vec_id AS query_id, label AS anchor_label, v AS qv
    FROM e WHERE vec_id < 16
), scored AS (
    SELECT q.query_id, q.anchor_label, e.label AS nlabel,
           ROUND(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                 * 1000000) / 1000000 AS cosine,
           e.vec_id AS neighbor_id
    FROM e JOIN q ON e.vec_id <> q.query_id
), topk AS (
    SELECT query_id, anchor_label,
           CASE WHEN nlabel = anchor_label THEN 1.0 ELSE 0.0 END AS rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
    QUALIFY rank <= 10
), perq AS (
    SELECT query_id, anchor_label,
           SUM(rel / LOG2(rank + 1)) AS dcg,
           CAST(SUM(rel) AS BIGINT) AS n_rel,
           COALESCE(MAX(CASE WHEN rel = 1.0 THEN 1.0 / rank END), 0.0) AS rr
    FROM topk GROUP BY query_id, anchor_label
), ideal(n_rel, idcg) AS (
    -- IDCG@10 constants: both engines share these LITERALS (a SUM over
    -- UNNEST would re-accumulate in engine-specific float order)
    VALUES (1, 1.0), (2, 1.6309297535714575), (3, 2.1309297535714578),
           (4, 2.5616063116448506), (5, 2.9484591188793923),
           (6, 3.3046663059874146), (7, 3.637999639320748),
           (8, 3.953464516106477), (9, 4.254494511770458),
           (10, 4.543559338088346)
)
SELECT p.query_id, p.anchor_label, p.n_rel,
       ROUND(CASE WHEN p.n_rel = 0 THEN 0.0 ELSE p.dcg / i.idcg END, 6) AS ndcg_at_10,
       ROUND(p.rr, 6) AS mrr
FROM perq p LEFT JOIN ideal i ON i.n_rel = p.n_rel
"""


@register(
    "llm_retrieval_ndcg_mrr",
    oracle=NDCG_MRR_ORACLE,
    tags=("llm", "similarity", "diagnostic"),
)
def llm_retrieval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-aware retrieval quality: nDCG@10 and reciprocal rank of
    exact k-NN under label relevance, per anchor — the rank-sensitive
    complement to llm_retrieval_label_precision (precision@k treats
    position 1 and position 10 alike; nDCG/MRR are what embedding-eval
    suites actually report). Same broadcast-anchor WindowGroupLimit
    k-NN; the metric math runs on k*anchors rows, the IDCG table on
    <=k distinct relevance counts."""
    from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
    from data_pipeline_with_spark_kafka_spark.operators import similarity as sim
    from pyspark.sql import Window

    emb = load_table_fanned(spark, sf_dir, "embeddings")
    knn = sim.knn_join_exact(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") < 16), k=10, query_limit=16
    )
    labels = emb.select("vec_id", "label")
    anchors = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("anchor_label")
    )
    neigh = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    ranked = (
        knn.join(anchors, "query_id")
        .join(neigh, "neighbor_id")
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "rel",
            F.when(F.col("nlabel") == F.col("anchor_label"), 1.0).otherwise(0.0),
        )
    )
    perq = ranked.groupBy("query_id", "anchor_label").agg(
        F.sum(F.col("rel") / F.log2(F.col("rank") + 1)).alias("dcg"),
        F.sum("rel").cast("long").alias("n_rel"),
        F.coalesce(
            F.max(F.when(F.col("rel") == 1.0, F.lit(1.0) / F.col("rank"))), F.lit(0.0)
        ).alias("rr"),
    )
    # IDCG@10 as shared LITERALS (identical constants in the oracle's
    # VALUES list): deriving it from perq would duplicate the whole kNN
    # pipeline in the plan, and a float re-accumulation could differ in
    # engine-specific summation order.
    idcg_consts = {
        1: 1.0, 2: 1.6309297535714575, 3: 2.1309297535714578,
        4: 2.5616063116448506, 5: 2.9484591188793923, 6: 3.3046663059874146,
        7: 3.637999639320748, 8: 3.953464516106477, 9: 4.254494511770458,
        10: 4.543559338088346,
    }
    idcg = F.lit(None).cast("double")
    for n_rel_v, c in idcg_consts.items():
        idcg = F.when(F.col("n_rel") == n_rel_v, F.lit(c)).otherwise(idcg)
    return perq.select(
        "query_id",
        "anchor_label",
        "n_rel",
        round_to(
            F.when(F.col("n_rel") == 0, 0.0).otherwise(F.col("dcg") / idcg), 6
        ).alias("ndcg_at_10"),
        round_to(F.col("rr"), 6).alias("mrr"),
    )
