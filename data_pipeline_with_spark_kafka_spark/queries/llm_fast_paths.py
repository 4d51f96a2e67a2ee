"""Vectorized fast-path variants of the LLM operators (rows-only: their
exact expression-tier twins carry the DuckDB oracles; equivalence between
tiers is pytest-asserted with float tolerance)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators import clustering, dedup, similarity
from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.sources.tables import (
    load_table,
    load_table_fanned,
    FIXTURES_DIR,
    parquet_fingerprint,
    table_row_count,
)


# Same oracle as the exact expression tier (queries/llm.py): the BLAS
# kernel's float64 matmul agrees with DuckDB's list arithmetic to ~1e-15
# before the shared round-to-4 — proven in practice by the IVF BLAS tier
# hash-matching this same SQL shape at sf0.001/0.01/0.1/0.5.
EMB_FAST_ORACLE = """
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


@register(
    "llm_dedup_embedding_cosine_fast", oracle=EMB_FAST_ORACLE, tags=("llm", "dedup", "pandas-udf")
)
def llm_dedup_embedding_cosine_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numpy-matmul-per-block embedding near-dup (applyInPandas fast path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Footer-metadata guard decision (no Spark job); see llm.py twin.
    guard = table_row_count(sf_dir, "embeddings") > 4096
    return dedup.embedding_near_dup_pairs_vectorized(
        emb, "vec_id", "embedding", "label", threshold=0.4, guard=guard
    )


def _quantizer_rows(emb: DataFrame, *, fixture: str, k: int, iterations: int):
    """Centroid rows for an IVF query: the committed offline artifact when
    present (``fixtures/<fixture>.parquet`` — the deployment shape, and
    what lets the DuckDB oracle mirror cell assignment in SQL), else
    train-and-memoize in session with the package's one k-means (the
    centroids ``run.py cluster`` writes for the same k and iterations)."""
    rows = clustering.fixture_centroid_rows(fixture)
    if rows is None:
        rows = clustering.to_centroid_rows(
            clustering.kmeans_verified(emb, "vec_id", "embedding", k=k, iterations=iterations)
        )
    return rows


# The IVF oracles read the SAME quantizer artifact the Spark queries use
# (fixtures/ivf_centroids_k*.parquet, trained offline by
# tools/gen_centroid_fixture.py) and mirror the operator exactly: rank
# cells per vector by (distance, cid) — list_distance is sqrt of the
# operator's squared distance, so the ranking is identical — then exact
# cosine + threshold/top-k over cell collisions only.

EMB_IVF_ORACLE = f"""
WITH cents AS (
    SELECT cid, centroid FROM read_parquet('{FIXTURES_DIR}/ivf_centroids_k10.parquet')
), e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), assign AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c.centroid), c.cid) AS rn
        FROM e CROSS JOIN cents c
    ) WHERE rn <= 2
)
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.4
"""


@register(
    "llm_dedup_embedding_cosine_ivf",
    oracle=EMB_IVF_ORACLE,
    tags=("llm", "dedup", "approx", "pandas-udf"),
)
def llm_dedup_embedding_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup blocked by LEARNED k-means IVF cells (the scale
    default: real corpora have no ``label`` column to block on).

    Quantizer: k=10 cells (matching this corpus's cluster structure;
    at scale k tracks corpus_size / target_cell_size), a committed
    offline artifact (fixtures/ivf_centroids_k10.parquet) shipped as
    literals — assignment is a zero-shuffle narrow map
    (``clustering.cell_multi_assign``). Each vector lands in its 2
    nearest cells so cell-boundary pairs still collide; the BLAS kernel
    + triangle guard run per cell. Fully oracled: DuckDB reads the same
    centroid parquet and replays assignment + exact cosine in SQL.
    Recall >= 0.95 vs the label-blocked exact tier is additionally
    pytest-asserted (tests/test_ivf_neardup.py)."""
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    rows = _quantizer_rows(emb, fixture="ivf_centroids_k10", k=10, iterations=3)
    # Footer-metadata guard decision (no Spark job); see llm.py twin.
    guard = table_row_count(sf_dir, "embeddings") > 4096
    return dedup.embedding_near_dup_pairs_ivf(
        emb, "vec_id", "embedding", centroid_rows=rows, n_assign=2, threshold=0.4, guard=guard
    )


KNN_IVF_ORACLE = f"""
WITH cents AS (
    SELECT cid, centroid FROM read_parquet('{FIXTURES_DIR}/ivf_centroids_k10.parquet')
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
    SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8
), probes AS (
    SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY list_distance(q.qv, c.centroid), c.cid) AS rn
        FROM q CROSS JOIN cents c
    ) WHERE rn <= 3
), scored AS (
    SELECT p.query_id, m.vec_id AS neighbor_id,
           ROUND(list_dot_product(m.v, p.qv)
                 / (sqrt(list_dot_product(m.v, m.v)) * sqrt(list_dot_product(p.qv, p.qv))), 6)
           AS cosine
    FROM members m JOIN probes p ON m.cid = p.cid
    WHERE m.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""


@register("llm_knn_join_ivf", oracle=KNN_IVF_ORACLE, tags=("llm", "similarity", "knn", "approx"))
def llm_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate k-NN join: same 8-query top-10 contract as
    ``llm_knn_join_exact``, but each query probes only its 3 nearest
    k-means cells (cell equi-join instead of the query x corpus fan-out).
    Fully oracled against the committed quantizer artifact (the DuckDB
    SQL replays single-cell membership, 3-cell probing, and the exact
    rerank); recall vs the exact tier is additionally pytest-pinned
    (tests/test_knn_join.py)."""
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    rows = _quantizer_rows(emb, fixture="ivf_centroids_k10", k=10, iterations=3)
    return similarity.knn_join_ivf(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") < 8), rows,
        k=10, n_probe=3, query_limit=8,
    )


SIM_TOPK_IVF_ORACLE = f"""
WITH cents AS (
    SELECT cid, centroid FROM read_parquet('{FIXTURES_DIR}/ivf_centroids_k8.parquet')
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
)
SELECT m.vec_id,
       ROUND(list_dot_product(m.v, p.qv)
             / (sqrt(list_dot_product(m.v, m.v)) * sqrt(list_dot_product(p.qv, p.qv))), 6)
       AS cosine
FROM members m JOIN probes p ON m.cid = p.cid
ORDER BY cosine DESC, m.vec_id
LIMIT 10
"""


@register("llm_sim_topk_ivf", oracle=SIM_TOPK_IVF_ORACLE, tags=("llm", "similarity", "approx"))
def llm_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 (k-means coarse quantizer, 3 probes).

    The quantizer is a committed offline artifact
    (fixtures/ivf_centroids_k8.parquet — 2 Lloyd iterations: probing only
    needs rough cells) handed to every search query rather than re-trained
    per invocation, which also lets the DuckDB oracle replay cell
    membership + probing + the exact rerank in SQL."""
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    rows = _quantizer_rows(emb, fixture="ivf_centroids_k8", k=8, iterations=2)
    return similarity.vector_topk(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") == 0),
        k=10,
        probe=similarity.Ivf(rows, n_probe=3),
    )


SEMDEDUP_ORACLE = f"""
WITH cents AS (
    SELECT cid, centroid FROM read_parquet('{FIXTURES_DIR}/ivf_centroids_k10.parquet')
), e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), members AS (
    SELECT vec_id, label, v, cid FROM (
        SELECT e.vec_id, e.label, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c.centroid), c.cid) AS rn
        FROM e CROSS JOIN cents c
    ) WHERE rn <= 1
)
SELECT m.vec_id, m.label
FROM members m
WHERE NOT EXISTS (
    SELECT 1 FROM members o
    WHERE o.cid = m.cid AND o.vec_id < m.vec_id
      AND ROUND(list_dot_product(m.v, o.v)
                / (sqrt(list_dot_product(m.v, m.v)) * sqrt(list_dot_product(o.v, o.v))), 4)
          >= 0.4
)
"""


@register(
    "llm_semdedup_prune", oracle=SEMDEDUP_ORACLE, tags=("llm", "dedup", "curation", "pandas-udf")
)
def llm_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning of the embedding corpus: cluster
    with the committed coarse quantizer (single-cell membership), drop
    every vector with a lower-id in-cluster neighbor at cosine >= 0.4
    (the similarity boundary this synthetic corpus uses everywhere; the
    operator default is 0.95 for real embedding spaces),
    keep the rest — the curation pass that removes semantically redundant
    training examples at ~n^2/k pair cost instead of corpus-quadratic.
    Fully oracled: DuckDB replays membership + the NOT EXISTS keep rule
    from the same centroid parquet."""
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    rows = _quantizer_rows(emb, fixture="ivf_centroids_k10", k=10, iterations=3)
    guard = table_row_count(sf_dir, "embeddings") > 4096
    kept = dedup.semantic_prune(
        emb, "vec_id", "embedding", centroid_rows=rows, threshold=0.4, guard=guard
    )
    return kept.select("vec_id", "label")


INCREMENTAL_ORACLE = """
-- docs: NULL text cannot be fingerprinted; such rows are excluded from
-- dedup on BOTH engines (round-8 all-NULL edge corpus).
WITH docs AS (SELECT * FROM documents WHERE text IS NOT NULL),
split AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS half FROM docs),
known AS (SELECT text FROM docs, split WHERE doc_id < half),
batch AS (SELECT doc_id, text, lang, source, n_chars FROM docs, split WHERE doc_id >= half),
novel AS (
    SELECT b.* FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM known k WHERE k.text = b.text)
),
keepers AS (SELECT MIN(doc_id) AS doc_id FROM novel GROUP BY text)
SELECT n.doc_id, n.lang, n.source, n.n_chars
FROM novel n JOIN keepers USING (doc_id)
"""


@register("llm_dedup_incremental", oracle=INCREMENTAL_ORACLE, tags=("llm", "dedup", "incremental"))
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: treat the doc_id upper half as today's
    batch and the lower half as the curated corpus; admit only batch docs
    whose content is novel (not in the corpus, first occurrence in batch).
    Runs the Bloom-prefiltered tier (`operators/incremental.py`) — a
    DataFrame-native Bloom relation built from corpus fingerprints,
    broadcast-probed by the batch, exact anti-join only for might-contain
    rows — whose output is provably identical to the plain anti-join the
    oracle expresses (no false negatives by construction)."""
    from data_pipeline_with_spark_kafka_spark.operators.incremental import incremental_novel

    # NULL text cannot be fingerprinted -> excluded from dedup (mirrors
    # the oracle's docs CTE; no-op on real corpora).
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    half_row = docs.agg(F.floor(F.max("doc_id") / 2).cast("long").alias("half"))
    # The split point is a 1-row scalar: broadcast cross join (plan-lint
    # allowed — bounded by construction).
    # Persist (round 13, guide §5 — dedup.py cache contract): batch and
    # known both derive from this relation and each is consumed by
    # multiple subtrees (fingerprints + the final keeper semi-join /
    # known_fp), so without the persist the docs scan + half aggregate
    # re-run per subtree. The materializing caller owns the blocks.
    with_half = docs.crossJoin(F.broadcast(half_row)).persist()
    batch = with_half.filter(F.col("doc_id") >= F.col("half")).drop("half")
    known = with_half.filter(F.col("doc_id") < F.col("half")).drop("half")
    novel = incremental_novel(batch, known, "doc_id", "text", prefilter=True)
    return novel.select("doc_id", "lang", "source", "n_chars")


INCREMENTAL_NEAR_ORACLE = """
-- docs: NULL text cannot be fingerprinted; excluded from dedup on BOTH
-- engines (round-8 all-NULL edge corpus).
WITH docs AS (SELECT * FROM documents WHERE text IS NOT NULL),
split AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS half FROM docs),
known AS (SELECT doc_id, text FROM docs, split WHERE doc_id < half),
batch AS (SELECT doc_id, text, lang, source, n_chars FROM docs, split WHERE doc_id >= half),
novel AS (
    SELECT b.* FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM known k WHERE k.text = b.text)
),
keepers AS (SELECT MIN(doc_id) AS doc_id FROM novel GROUP BY text),
exact_novel AS (SELECT n.* FROM novel n JOIN keepers USING (doc_id)),
btoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM exact_novel),
bsh AS (
    SELECT DISTINCT doc_id AS doc,
           t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
    FROM btoks, UNNEST(range(1, len(t) - 1)) AS r(i)
),
ktoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM known),
ksh AS (
    SELECT DISTINCT doc_id AS doc,
           t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
    FROM ktoks, UNNEST(range(1, len(t) - 1)) AS r(i)
),
bsizes AS (SELECT doc, COUNT(*) AS n_sh FROM bsh GROUP BY doc),
ksizes AS (SELECT doc, COUNT(*) AS n_sh FROM ksh GROUP BY doc),
inter AS (
    SELECT b.doc AS bdoc, k.doc AS kdoc, COUNT(*) AS n_inter
    FROM bsh b JOIN ksh k ON b.shingle = k.shingle
    GROUP BY 1, 2
),
neardup AS (
    SELECT DISTINCT bdoc FROM inter
    JOIN bsizes sb ON sb.doc = inter.bdoc
    JOIN ksizes sk ON sk.doc = inter.kdoc
    WHERE ROUND(n_inter * 1.0 / (sb.n_sh + sk.n_sh - n_inter), 4) >= 0.8
)
SELECT e.doc_id, e.lang, e.source, e.n_chars
FROM exact_novel e
WHERE NOT EXISTS (SELECT 1 FROM neardup nd WHERE nd.bdoc = e.doc_id)
"""


@register(
    "llm_dedup_incremental_near",
    oracle=INCREMENTAL_NEAR_ORACLE,
    tags=("llm", "dedup", "incremental"),
)
def llm_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest: same half-split as
    llm_dedup_incremental, but batch docs are also rejected when they are
    a near-dup (3-gram Jaccard >= 0.8) of ANY corpus doc — probed through
    the persisted corpus MinHash band index (``corpus_near_index`` /
    ``incremental_near_dups``), so only (band, bucket) collisions shuffle
    and the corpus is never broadcast. Candidates are verified with exact
    Jaccard, which is what the DuckDB oracle computes exhaustively."""
    from data_pipeline_with_spark_kafka_spark.operators.incremental import (
        incremental_novel_near,
    )

    # NULL text cannot be fingerprinted -> excluded from dedup (mirrors
    # the oracle's docs CTE; no-op on real corpora).
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    half_row = docs.agg(F.floor(F.max("doc_id") / 2).cast("long").alias("half"))
    # Persist (round 13, guide §5): batch/known fan out to ~5 consumer
    # subtrees (batch fingerprints, final semi-join, corpus index build,
    # corpus fingerprints), each of which otherwise re-scans the docs
    # parquet and re-runs the half aggregate — measured 2.55 -> 2.25 s
    # median at sf0.1 (interleaved A/B). At real scale the deployment
    # shape is llm_dedup_incremental_near_probe (persisted index, no
    # corpus rescan at all); this in-session variant's persist is
    # bounded by the same corpus it would otherwise rescan 4x.
    with_half = docs.crossJoin(F.broadcast(half_row)).persist()
    batch = with_half.filter(F.col("doc_id") >= F.col("half")).drop("half")
    known = with_half.filter(F.col("doc_id") < F.col("half")).drop("half")
    novel = incremental_novel_near(batch, known, "doc_id", "text", threshold=0.8)
    return novel.select("doc_id", "lang", "source", "n_chars")


@register(
    "llm_dedup_incremental_near_probe",
    oracle=INCREMENTAL_NEAR_ORACLE,
    tags=("llm", "dedup", "incremental"),
)
def llm_dedup_incremental_near_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYMENT shape of llm_dedup_incremental_near (round-7
    stretch #8): the corpus near-dup index — LSH band index, shingle
    sets, exact (fp, fp2) fingerprints — is built ONCE and persisted to
    parquet; the query reads the index back and pays only batch
    signaturing + (band, bucket) probe joins, which is what a 100-TB
    ingest actually costs per batch (the in-session variant's bench time
    is ~90% index construction). Identical semantics and oracle; the
    corpus text is never rescanned when the index exists."""
    import hashlib
    import os
    import tempfile

    from data_pipeline_with_spark_kafka_spark.operators.incremental import (
        corpus_near_index,
        fingerprints,
        incremental_novel_near,
    )

    # NULL text cannot be fingerprinted -> excluded from dedup (mirrors
    # the oracle's docs CTE; no-op on real corpora).
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    half_row = docs.agg(F.floor(F.max("doc_id") / 2).cast("long").alias("half"))
    with_half = docs.crossJoin(F.broadcast(half_row))
    batch = with_half.filter(F.col("doc_id") >= F.col("half")).drop("half")
    known = with_half.filter(F.col("doc_id") < F.col("half")).drop("half")

    # Key the persisted index by the documents table's content
    # fingerprint, not just the path: a regenerated fixture at the same
    # sf_dir must invalidate the index, or the probe would silently join a
    # stale corpus's bands against fresh data. Same staleness rule as the
    # session memo's table reads (``tables.parquet_fingerprint``); distinct
    # corpora get distinct index trees.
    doc_path = os.path.join(sf_dir, "documents.parquet")
    root = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_near_index",
        hashlib.md5(f"{doc_path}|{parquet_fingerprint(doc_path)}".encode()).hexdigest()[:16],
    )
    bands_p = os.path.join(root, "bands")
    sets_p = os.path.join(root, "sets")
    fp_p = os.path.join(root, "fp")
    marker = os.path.join(root, "_INDEX_COMPLETE")
    if not os.path.exists(marker):
        bands, sets = corpus_near_index(known, "doc_id", "text")
        bands.write.mode("overwrite").parquet(bands_p)
        sets.write.mode("overwrite").parquet(sets_p)
        fingerprints(known, "doc_id", "text").select(
            "fp", "fp2"
        ).distinct().write.mode("overwrite").parquet(fp_p)
        with open(marker, "w") as f:
            f.write(sf_dir + "\n")

    novel = incremental_novel_near(
        batch,
        None,
        "doc_id",
        "text",
        threshold=0.8,
        corpus_bands=spark.read.parquet(bands_p),
        corpus_sets=spark.read.parquet(sets_p),
        known_fp=spark.read.parquet(fp_p),
    )
    return novel.select("doc_id", "lang", "source", "n_chars")


CHUNK_ORACLE = """
WITH toks AS (
    -- NULL text -> no chunks (mirrors operators/chunking.py)
    SELECT doc_id, string_split(text, ' ') AS t
    FROM documents WHERE text IS NOT NULL
),
wins AS (
    SELECT doc_id, t,
           CAST(i AS INT) AS chunk_id,
           CAST(i AS INT) * 16 AS start
    FROM toks,
         UNNEST(range(0, CAST(1 + CEIL(GREATEST(len(t) - 32, 0) / 16.0) AS BIGINT))) AS r(i)
)
SELECT doc_id, chunk_id,
       array_to_string(t[start + 1 : start + 32], ' ') AS chunk_text,
       CAST(LEAST(32, len(t) - start) AS INT) AS n_tokens
FROM wins
"""


@register("llm_chunk_documents", oracle=CHUNK_ORACLE, tags=("llm", "chunking"))
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token windows, stride 16):
    the pre-embedding step of an LLM pipeline, pure expression tree
    (tokenize → posexplode window starts → slice), no shuffle at all."""
    from data_pipeline_with_spark_kafka_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", size=32, stride=16)


LENGTH_HIST_ORACLE = """
SELECT lang,
       CAST(LEAST(FLOOR(len(string_split(text, ' ')) / 16), 7) AS INT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1, 2
"""


@register("llm_length_histogram", oracle=LENGTH_HIST_ORACLE, tags=("llm", "stats"))
def llm_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length histogram (16-token buckets, top-coded at
    bucket 7) — the corpus-shape profile mixture planning reads. One
    map-side-combinable aggregate; no joins, no explode."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    bucket = F.least(F.floor(n_tok / 16), F.lit(7)).cast("int")
    return docs.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("n_tokens"),
    )
