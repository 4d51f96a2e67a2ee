"""Embedding-column analytics with an exact cross-engine oracle.

The dedup/ANN operators (operators/dedup.py, similarity.py) consume
embeddings; this query is the monitoring side: per-label vector counts,
centroid norm, mean vector norm, and within-label dispersion — the
numbers a training-data pipeline tracks to catch collapsed or drifting
embedding spaces.

Scale notes (100 TB design):
- the per-dimension centroid is a posexplode -> (label, dim) aggregate:
  map-side combinable, shuffle carries |labels| x 64 rows;
- the per-vector norm is a zero-shuffle F.aggregate lambda (JVM
  codegen, no UDF), reduced per label in the same pass;
- the two small aggregates join on label (|labels| rows).
- dispersion uses E||v - c||^2 = E||v||^2 - ||c||^2 — no second pass
  over the vectors against the centroid.

Float -> double casts happen BEFORE any arithmetic on both engines, so
per-vector sums are bit-identical; only cross-row averages need the
usual rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.sources.tables import (
    load_table,
    load_table_fanned,
    local_rows,
)

EMB_CENTROID_ORACLE = """
WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
dims AS (
  SELECT label, i, AVG(embedding[i]::DOUBLE) AS c
  FROM embeddings, idx GROUP BY label, i
), centroid AS (
  SELECT label, SQRT(SUM(c * c)) AS centroid_norm FROM dims GROUP BY label
), pervec AS (
  SELECT label,
         CAST(COUNT(*) AS BIGINT) AS n_vectors,
         AVG(sq) AS avg_sq_norm,
         AVG(SQRT(sq)) AS avg_norm
  FROM (SELECT label,
               list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS sq
        FROM embeddings)
  GROUP BY label
)
SELECT p.label, p.n_vectors,
       ROUND(c.centroid_norm, 4) AS centroid_norm,
       ROUND(p.avg_norm, 4) AS avg_vector_norm,
       ROUND(p.avg_sq_norm - c.centroid_norm * c.centroid_norm, 4) AS dispersion
FROM pervec p JOIN centroid c USING (label)
"""


@register("emb_label_centroid_norms", oracle=EMB_CENTROID_ORACLE, tags=("llm", "embedding"))
def emb_label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-space health metrics: count, centroid L2
    norm, mean vector L2 norm, and dispersion E||v||^2 - ||c||^2."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    pervec = emb.select("label", sq.alias("sq")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.avg("sq").alias("avg_sq_norm"),
        F.avg(F.sqrt("sq")).alias("avg_norm"),
    )
    dims = (
        emb.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg(F.col("x").cast("double")).alias("c"))
    )
    centroid = dims.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("centroid_norm")
    )
    return pervec.join(centroid, "label").select(
        "label",
        "n_vectors",
        round_to("centroid_norm", 4).alias("centroid_norm"),
        round_to("avg_norm", 4).alias("avg_vector_norm"),
        round_to(
            F.col("avg_sq_norm") - F.col("centroid_norm") * F.col("centroid_norm"), 4
        ).alias("dispersion"),
    )


def _kmeans_train_oracle(*, k: int = 8, iterations: int = 5, dim: int = 64) -> str:
    """Unrolled-Lloyd oracle (the BPE/GD stage-chain pattern applied to
    clustering): init = k smallest (xxhash64(vec_id, 42), vec_id) — the
    hash replayed by the pure-SQL XXH64 compiler — then per iteration an
    argmin assignment (QUALIFY row_number ORDER BY d, cid: the same
    (distance, cid) struct-min tie-break as Spark) and a per-(cid, dim)
    mean LEFT-JOINed over the previous stage so empty clusters keep
    their centroid. Centroids round to 6dp at every stage boundary on
    both engines, so each assignment starts from bit-identical centroid
    literals (see operators/clustering.kmeans_verified)."""
    from data_pipeline_with_spark_kafka_spark.queries.xxh64_sql import (
        Emitter,
        to_signed,
        to_unsigned,
    )

    em = Emitter("g")
    h1 = em.hash_long("vu", 42)
    h2 = em.hash_int("42", h1)
    ih_body = em.wrap(f"SELECT vec_id, {to_unsigned('vec_id')} AS vu FROM e")

    sql = [
        f"""
WITH RECURSIVE e AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE embedding IS NOT NULL
), ih AS MATERIALIZED (
    SELECT vec_id, {to_signed(h2)} AS hs FROM ({ih_body}) ihz
), init AS MATERIALIZED (
    SELECT CAST(row_number() OVER (ORDER BY hs, vec_id) AS INT) AS cid, vec_id
    FROM (SELECT vec_id, hs FROM ih ORDER BY hs, vec_id LIMIT {k}) seedz
), ed AS MATERIALIZED (
    SELECT vec_id, CAST(d.i AS INT) AS dim, v[CAST(d.i AS INT) + 1] AS x
    FROM e, (SELECT unnest(range(0, {dim})) AS i) d
), c0 AS MATERIALIZED (
    SELECT i.cid, ed.dim, ROUND(ed.x, 6) AS c
    FROM init i JOIN ed ON ed.vec_id = i.vec_id
)"""
    ]
    for t in range(1, iterations + 1):
        sql.append(f"""
, d{t} AS (
    -- ordered sequential fold, NOT SUM: a parallel hash-agg SUM
    -- accumulates each (vec,cid) group in its own arrival order, so
    -- EXACTLY tied inputs (identical centroids) yield ULP-different
    -- distances per cid and the tie-break diverges from Spark's
    -- deterministic per-row fold (caught by the one_group edge corpus)
    SELECT ed.vec_id, c.cid,
           list_sum(list((ed.x - c.c) * (ed.x - c.c) ORDER BY ed.dim)) AS d
    FROM ed JOIN c{t - 1} c ON c.dim = ed.dim
    GROUP BY ed.vec_id, c.cid
), a{t} AS MATERIALIZED (
    SELECT vec_id, cid FROM d{t}
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
), c{t} AS MATERIALIZED (
    SELECT g.cid, g.dim, COALESCE(ROUND(m.m, 6), g.c) AS c
    FROM c{t - 1} g LEFT JOIN (
        SELECT a.cid, ed.dim, AVG(ed.x) AS m
        FROM a{t} a JOIN ed ON ed.vec_id = a.vec_id
        GROUP BY a.cid, ed.dim
    ) m ON m.cid = g.cid AND m.dim = g.dim
)""")
    sql.append(f"""
SELECT c.cid, c.dim, c.c AS centroid, COALESCE(n.n, 0) AS cluster_n
FROM c{iterations} c LEFT JOIN (
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM a{iterations} GROUP BY cid
) n ON n.cid = c.cid""")
    return "".join(sql)


@register(
    "emb_kmeans_train",
    oracle=_kmeans_train_oracle(),
    tags=("llm", "embedding", "iterative"),
)
def emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a k=8 Lloyd's k-means IN Spark over the embedding corpus and
    report the final centroids (cid, dim, value) plus cluster sizes.

    FULLY ORACLED from birth (round 8): all 5 iterations replay in
    DuckDB as chained MATERIALIZED CTE stages, the hash-seeded init
    mirrored by the pure-SQL XXH64 compiler (queries/xxh64_sql.py), and
    per-iteration 6dp centroid quantization keeps the two engines'
    assignment inputs bit-identical — the clustering counterpart of the
    oracled GD trainer (llm_train_quality_classifier). The trainer
    (operators/clustering.kmeans_verified) is the package's one k-means,
    so this query also pins the in-session IVF quantizer and
    ``run.py cluster``: per iteration one codegen argmin scan + one
    (cid,dim) aggregate; k*d doubles to the driver, never rows."""
    from data_pipeline_with_spark_kafka_spark.operators.clustering import kmeans_verified

    emb = load_table_fanned(spark, sf_dir, "embeddings")
    rows = kmeans_verified(emb, "vec_id", "embedding", k=8, iterations=5, seed=42)
    return local_rows(spark, rows, "cid int, dim int, centroid double, cluster_n bigint")
