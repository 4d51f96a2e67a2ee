"""LLM-training-data-pipeline queries: dedup (exact / n-gram Jaccard /
MinHash-LSH / SimHash / embedding-cosine), similarity search (brute-force
and LSH ANN), text analysis, multimodal plumbing.

SQL-expressible tiers carry a DuckDB oracle, the xxhash64 minhash /
simhash tiers included (queries/xxh64_sql.py); the remaining
probabilistic tiers (LSH ANN) are rows-only here and recall-tested
against the exact tiers in tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators import dedup, multimodal, similarity
from data_pipeline_with_spark_kafka_spark.operators.text import (
    STOPWORDS,
    avg_token_length,
    content_fingerprint,
    lang_id,
    quality_score,
    stopword_ratio,
    tokens,
)
from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.queries.xxh64_oracles import (
    minhash_lsh_xxh64_oracle,
    simhash_xxh64_oracle,
)
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table, load_table_fanned, table_row_count

# --------------------------------------------------------------------------
# Dedup tiers
# --------------------------------------------------------------------------

@register(
    "llm_dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    tags=("llm", "dedup"),
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content group, deterministic min-id keeper."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


NGRAM_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
    SELECT DISTINCT doc_id AS doc,
           t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
    FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
), sizes AS (
    SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc
), inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = inter.doc_a
JOIN sizes sb ON sb.doc = inter.doc_b
WHERE ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.8
"""


@register("llm_dedup_ngram_jaccard", oracle=NGRAM_ORACLE, tags=("llm", "dedup"))
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (J >= 0.8) via
    inverted-index self-join — the ground truth for the LSH tier."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.8)


CONTAINMENT_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
    SELECT DISTINCT doc_id AS doc,
           t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
    FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
), sizes AS (
    SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc
), inter AS (
    SELECT a.doc AS doc_contained, b.doc AS doc_container, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc <> b.doc
    GROUP BY 1, 2
)
SELECT doc_contained, doc_container,
       ROUND(n_inter * 1.0 / sa.n_sh, 4) AS containment
FROM inter
JOIN sizes sa ON sa.doc = inter.doc_contained
WHERE ROUND(n_inter * 1.0 / sa.n_sh, 4) >= 0.9
"""


@register("llm_dedup_containment", oracle=CONTAINMENT_ORACLE, tags=("llm", "dedup"))
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram CONTAINMENT pairs (C(a->b) = |Sa∩Sb|/|Sa| >= 0.9):
    the asymmetric dedup relation Jaccard can't see — a short document
    quoted inside a much longer one has low Jaccard (union dominated by
    the container) but containment ~1. One-sided prefix filter on the
    contained side (rarest-first), exact verification; ordered pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, "doc_id", "text", k=3, threshold=0.9)


CLUSTERS_ORACLE = """
WITH RECURSIVE toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
    SELECT DISTINCT doc_id AS doc,
           t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
    FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
), sizes AS (
    SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc
), inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
), pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc = inter.doc_a
    JOIN sizes sb ON sb.doc = inter.doc_b
    WHERE ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.8
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
), reach(doc, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc
)
SELECT doc AS doc_id,
       MIN(label) AS cluster_id,
       CAST(doc = MIN(label) AS BOOLEAN) AS is_keeper
FROM reach
GROUP BY doc
"""


@register("llm_dedup_clusters", oracle=CLUSTERS_ORACLE, tags=("llm", "dedup"))
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> dedup DECISIONS: connected components over the exact
    near-dup pair graph (min-label propagation), one keeper per duplicate
    group (the component's min doc_id), singletons their own keeper.

    The DuckDB oracle walks the same graph with a recursive CTE — an
    independent algorithm (BFS label closure vs iterative propagation)
    agreeing on every component."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.8)
    comps = dedup.connected_components(pairs, docs, "doc_id")
    return comps.select(
        F.col("doc").alias("doc_id"),
        "cluster_id",
        (F.col("doc") == F.col("cluster_id")).alias("is_keeper"),
    )


@register("llm_dedup_minhash_lsh", oracle=minhash_lsh_xxh64_oracle(), tags=("llm", "dedup"))
def llm_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(16 bands) near-dup pairs, exact-Jaccard verified.
    Same semantics as llm_dedup_ngram_jaccard but candidate generation is
    O(bucket collisions), not O(shared-shingle pairs) — the 100 TB path.
    Recall vs the exact tier is asserted in tests/test_llm_ops.py.

    Fully oracled since round 8: the DuckDB oracle reproduces Spark's
    xxhash64 (XXH64, seed 42) bit-for-bit in pure SQL
    (queries/xxh64_sql.py), mirroring the shingle hash, all 32 seeded
    rehashes, the band-bucket hash chain, AND the exact-Jaccard
    verification."""
    docs = load_table_fanned(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", k=3, threshold=0.8)


@register("llm_dedup_simhash", oracle=simhash_xxh64_oracle(), tags=("llm", "dedup"))
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (expression-only, no UDF).

    Fully oracled since round 8: the DuckDB oracle hashes every token
    occurrence with a pure-SQL XXH64 (queries/xxh64_sql.py) and replays
    the same sign-fold into bit (63 - i)."""
    return dedup.simhash(load_table_fanned(spark, sf_dir, "documents"), "doc_id", "text")


EMB_NEARDUP_ORACLE = """
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS vec_a,
       b.vec_id AS vec_b,
       a.label AS block,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
FROM e a
JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.4
"""


@register("llm_dedup_embedding_cosine", oracle=EMB_NEARDUP_ORACLE, tags=("llm", "dedup"))
def llm_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.4) blocked by label."""
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    # Guard decision from footer metadata (no Spark job): if the whole
    # table fits in one block budget, no block can exceed it -> simple
    # plan. Larger corpora take the triangle-guarded plan, whose extra
    # stages are noise at that scale.
    guard = table_row_count(sf_dir, "embeddings") > 4096
    return dedup.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", "label", threshold=0.4, guard=guard
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

TEXT_STATS_ORACLE = f"""
SELECT doc_id,
       lang,
       LENGTH(text) AS n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       ROUND((LENGTH(text) - (len(string_split(text, ' ')) - 1) * 1.0)
             / len(string_split(text, ' ')), 4) AS avg_token_len,
       ROUND(len(list_filter(string_split(text, ' '),
                             t -> list_contains({_STOP_SQL}, t))) * 1.0
             / len(string_split(text, ' ')), 4) AS stop_ratio
FROM documents
"""


@register("llm_text_stats", oracle=TEXT_STATS_ORACLE, tags=("llm", "text"))
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token/char/shape/stopword statistics (pure codegen)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        round_to(avg_token_length(F.col("text"), toks), 4).alias("avg_token_len"),
        round_to(stopword_ratio(toks), 4).alias("stop_ratio"),
    )


QUALITY_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           string_split(text, ' ') AS toks
    FROM documents
)
SELECT doc_id,
       ROUND(0.4 * LEAST(len(toks) / 50.0, 1.0)
           + 0.3 * (1.0 - len(list_filter(toks, t -> list_contains({_STOP_SQL}, t))) * 1.0 / len(toks))
           + 0.3 * LEAST(((n_chars - (len(toks) - 1) * 1.0) / len(toks)) / 8.0, 1.0), 4)
           AS quality
FROM t
"""


@register("llm_text_quality", oracle=QUALITY_ORACLE, tags=("llm", "text"))
def llm_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic [0,1] quality score (length/stopword/shape mix)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select("doc_id", quality_score(F.col("text"), toks).alias("quality"))


def _langid_oracle() -> str:
    from data_pipeline_with_spark_kafka_spark.operators.text import LANG_MARKERS

    score = {
        lang: f"len(list_filter(toks, t -> list_contains([{', '.join(repr(m) for m in markers)}], t)))"
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    cases = []
    for lang in langs:
        conds = " AND ".join(
            f"{score[lang]} >= {score[other]}" for other in langs if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[0]}' END"
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang AS labeled_lang, {case_sql} AS pred_lang FROM t
"""


@register("llm_text_langid", oracle=_langid_oracle(), tags=("llm", "text"))
def llm_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic (argmax with fixed tie order)."""
    docs = load_table_fanned(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), lang_id(toks).alias("pred_lang")
    )


@register(
    "llm_text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(text) AS fingerprint,
       SUBSTRING(md5(text), 1, 8) AS fp_prefix
FROM documents
""",
    tags=("llm", "text"),
)
def llm_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc md5 content fingerprint (engine-portable)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = content_fingerprint(F.col("text"))
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("fp_prefix")
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

SIM_TOPK_ORACLE = """
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT vec_id,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM e, q
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


@register("llm_sim_topk_bruteforce", oracle=SIM_TOPK_ORACLE, tags=("llm", "similarity"))
def llm_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 vs the vec_id=0 query embedding."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.vector_topk(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == 0), k=10
    )


KNN_JOIN_ORACLE = """
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < 8
), e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), scored AS (
    SELECT q.query_id,
           e.vec_id AS neighbor_id,
           ROUND(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
    FROM e, q
    WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""


@register("llm_knn_join_exact", oracle=KNN_JOIN_ORACLE, tags=("llm", "similarity", "knn"))
def llm_knn_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN JOIN: top-10 cosine neighbors for each of 8 query
    vectors in one pass (broadcast query set, WindowGroupLimit top-k —
    the batch retrieval shape, vs ``llm_sim_topk_bruteforce``'s single
    query)."""
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    return similarity.knn_join_exact(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") < 8), k=10, query_limit=8
    )


def _lsh_seeded_planes_oracle() -> str:
    """Oracle for the seeded-RNG LSH tier: the Rademacher planes come
    from ``make_planes(64, 6, 42)`` — a DRIVER-side numpy draw baked
    into the Spark plan as literals, so the oracle embeds the same
    values as literals too (the committed-fixture pattern: centroids,
    PQ codebooks, and PCA components are already oracled this way).
    numpy's legacy ``RandomState`` is bit-stable across versions, so
    both sides derive identical planes forever. Everything downstream
    (sign projection, MSB-first bucket fold, radius-1 probe, exact
    cosine rerank) is plain SQL over the embeddings."""
    planes = similarity.make_planes(64, 6, 42)
    rows = " UNION ALL ".join(
        "SELECT {p} AS p, [{w}]::DOUBLE[] AS w".format(
            p=p, w=", ".join(f"{v:.1f}" for v in plane)
        )
        for p, plane in enumerate(planes)
    )
    return f"""
WITH planes AS (
    {rows}
), e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), proj AS (
    SELECT e.vec_id, pl.p, list_dot_product(e.v, pl.w) AS s
    FROM e CROSS JOIN planes pl
), buck AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN s >= 0 THEN (1 << (5 - p)) ELSE 0 END) AS BIGINT) AS bucket
    FROM proj GROUP BY vec_id
), q AS (
    SELECT e.v AS qv, b.bucket AS qbucket
    FROM e JOIN buck b USING (vec_id) WHERE e.vec_id = 0
)
SELECT e.vec_id,
       ROUND(list_dot_product(e.v, q.qv)
             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
FROM e JOIN buck b ON b.vec_id = e.vec_id, q
WHERE bit_count(xor(b.bucket, q.qbucket)) <= 1
ORDER BY cosine DESC, e.vec_id
LIMIT 10
"""


@register("llm_sim_topk_lsh", oracle=_lsh_seeded_planes_oracle(), tags=("llm", "similarity"))
def llm_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (recall tested vs brute force).

    Fully oracled since round 8: the seeded-numpy Rademacher planes are
    driver-side literals in the Spark plan, so the DuckDB oracle embeds
    the identical literals (committed-fixture pattern) and mirrors the
    projection/bucket/probe/rerank end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.vector_topk(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") == 0),
        k=10,
        probe=similarity.Lsh(similarity.make_planes(64, 6)),
    )


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------

MULTIMODAL_ORACLE = """
SELECT doc_id,
       'mem://doc/' || CAST(doc_id AS VARCHAR) AS uri,
       'text/plain' AS media_type,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha256
FROM documents
"""


@register("llm_multimodal_metadata", oracle=MULTIMODAL_ORACLE, tags=("llm", "multimodal"))
def llm_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column + relational metadata extraction (no decode)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.blob_metadata(
        multimodal.attach_blob(docs, "doc_id", "text"), "doc_id"
    )


@register("llm_multimodal_decode_features", oracle=None, tags=("llm", "multimodal"))
def llm_multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched fake-decode feature extraction over mapInPandas (the
    real codec is stubbed — see operators/multimodal.decode_media).

    The ``features`` array is serialized with ``to_json`` at the query
    boundary: complex-typed output columns crash the driver's pandas-based
    canonicalizer (``unhashable type: 'list'``, CORRECTNESS_r01) and
    hash-mismatch across engines in general — project invariant."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = multimodal.fake_decode_features(
        multimodal.attach_blob(docs, "doc_id", "text"), "doc_id"
    )
    return decoded.select(
        "doc_id",
        "n_bytes",
        F.to_json(F.transform("features", lambda x: round_to(x, 4))).alias("features_json"),
    )


@register("llm_multimodal_image_features", oracle=None, tags=("llm", "multimodal"))
def llm_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode pipeline: deterministic 16x16 BMP per doc ->
    pure-numpy 24-bit BMP decode -> per-channel means + 4x4 nearest-neighbor
    thumbnail, all Arrow-batched through mapInPandas. Rows-only (the BMP
    byte layout is not SQL-expressible); decode/resize/feature math is
    pinned exactly against direct numpy in tests/test_llm_ops.py. The thumb
    is base64-serialized at the boundary (binary columns are complex-typed
    for the driver canon — same invariant as struct/array outputs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(200)
    with_img = multimodal.attach_image_blob(docs, "doc_id", width=16, height=16)
    feats = multimodal.image_features(with_img, "doc_id", thumb_w=4, thumb_h=4)
    return feats.select(
        "doc_id",
        "width",
        "height",
        round_to(F.col("mean_r"), 4).alias("mean_r"),
        round_to(F.col("mean_g"), 4).alias("mean_g"),
        round_to(F.col("mean_b"), 4).alias("mean_b"),
        F.base64("thumb").alias("thumb_b64"),
    )


@register("llm_multimodal_audio_features", oracle=None, tags=("llm", "multimodal"))
def llm_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode pipeline: deterministic mono PCM-16 WAV per doc ->
    RIFF-chunk walk + int16 decode -> RMS/peak features. Rows-only;
    decode math pinned against direct numpy in tests/test_llm_ops.py."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(200)
    with_wav = multimodal.attach_audio_blob(docs, "doc_id", n_samples=256, sample_rate=8000)
    return multimodal.audio_features(with_wav, "doc_id").select(
        "doc_id",
        "n_samples",
        "sample_rate",
        round_to(F.col("rms"), 4).alias("rms"),
        "peak",
    )
