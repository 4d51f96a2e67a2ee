"""PCA projection + explained variance over the embedding column, fully
DuckDB-oracled via the committed component fixture.

The component artifact (fixtures/pca_components_m8.parquet, trained by
tools/gen_pca_fixture.py from the distributed sufficient statistics) is
read driver-side as literal weights — projection is a zero-shuffle
expression tree (operators/pca.py) and the oracle reads the SAME parquet
via read_parquet, mirroring v . w - mu . w with list_dot_product. Same
fixture-oracle discipline as the IVF quantizer queries
(queries/llm_fast_paths.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
from data_pipeline_with_spark_kafka_spark.operators import pca
from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.sources.tables import (
    FIXTURES_DIR,
    load_table,
    load_table_fanned,
)

_FIXTURE = "pca_components_m8"
_DIM, _M = 64, 8


def _components(emb: DataFrame, sf_dir: str):
    """Committed artifact when present (the deployment + oracle shape);
    in-session fit otherwise (synthetic scale-curve dirs)."""
    comps = pca.fixture_component_rows(_FIXTURE)
    if comps is None:
        comps = pca.fit_pca(emb, "embedding", dim=_DIM, m=_M)
    return comps


PCA_PROJECT_ORACLE = f"""
WITH comps AS (
    SELECT comp_id, weights, proj_offset
    FROM read_parquet('{FIXTURES_DIR}/pca_components_m8.parquet')
), e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT e.vec_id AS id, c.comp_id,
       ROUND(list_dot_product(e.v, c.weights) - c.proj_offset, 4) AS score
FROM e CROSS JOIN comps c
"""


@register("emb_pca_project", oracle=PCA_PROJECT_ORACLE, tags=("llm", "embedding", "pca"))
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the top-8 principal components —
    long format (id, comp_id, score), zero shuffles (literal weights)."""
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    return pca.project_components(emb, "vec_id", "embedding", _components(emb, sf_dir))


PCA_VARIANCE_ORACLE = f"""
WITH comps AS (
    SELECT comp_id, weights, proj_offset
    FROM read_parquet('{FIXTURES_DIR}/pca_components_m8.parquet')
), e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), sc AS (
    SELECT c.comp_id, list_dot_product(e.v, c.weights) - c.proj_offset AS s
    FROM e CROSS JOIN comps c
), pervar AS (
    SELECT comp_id, AVG(s * s) - AVG(s) * AVG(s) AS var FROM sc GROUP BY comp_id
), idx AS (SELECT unnest(generate_series(1, 64)) AS i),
dims AS (
    SELECT i, AVG(embedding[i]::DOUBLE) AS c FROM embeddings, idx GROUP BY i
), musq AS (SELECT SUM(c * c) AS m2 FROM dims),
avgsq AS (
    SELECT AVG(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS a2
    FROM embeddings
)
-- GREATEST/NULLIF: degenerate-corpus guards mirroring the Spark side
-- (constant embeddings -> variance is float noise; see the builder).
SELECT comp_id, ROUND(GREATEST(var, 0), 6) AS variance,
       ROUND(GREATEST(var, 0) / NULLIF(ROUND((SELECT a2 FROM avgsq) - (SELECT m2 FROM musq), 9), 0), 6) AS var_ratio
FROM pervar
"""


@register("emb_pca_explained_variance", oracle=PCA_VARIANCE_ORACLE, tags=("llm", "embedding", "pca"))
def emb_pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized variance along each committed component + its share of
    total corpus variance (E||v||^2 - ||mu||^2) — the monitoring query
    that tells you whether the projection still captures the space after
    the corpus drifts from the artifact's training sample.

    Scale shape: raw (unrounded) scores aggregate per comp_id (8 groups,
    map-side combined); total variance is one zero-shuffle per-vector
    pass + a 64-row per-dimension aggregate; the two scalars broadcast.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comps = _components(emb, sf_dir)

    raw = F.array(
        *[
            F.struct(
                F.lit(cid).alias("comp_id"),
                (pca._dot_literal(F.col("embedding"), w) - F.lit(off)).alias("s"),
            )
            for cid, w, off, _ev in comps
        ]
    )
    pervar = (
        emb.select(F.explode(raw).alias("c"))
        .select(F.col("c.comp_id").alias("comp_id"), F.col("c.s").alias("s"))
        .groupBy("comp_id")
        .agg((F.avg(F.col("s") * F.col("s")) - F.avg("s") * F.avg("s")).alias("var"))
    )

    sq = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    avgsq = emb.select(sq.alias("sq")).agg(F.avg("sq").alias("a2")).limit(1)
    musq = (
        emb.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(F.avg(F.col("x").cast("double")).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("m2"))
        .limit(1)
    )
    # Degenerate-corpus guards (round-8 one-group edge corpus): on a
    # CONSTANT embedding column both var and total variance are float
    # noise around +-1e-17 — greatest(var, 0) pins the mathematical
    # var >= 0 (and kills -0.0), and dividing by nullif(round(total, 9), 0)
    # makes var_ratio NULL instead of noise/noise garbage. No-ops on any
    # real corpus (total variance is O(dim)).
    total = F.nullif(F.round(F.col("a2") - F.col("m2"), 9), F.lit(0.0))
    return (
        pervar.join(F.broadcast(avgsq))
        .join(F.broadcast(musq))
        .select(
            "comp_id",
            round_to(F.greatest(F.col("var"), F.lit(0.0)), 6).alias("variance"),
            round_to(F.greatest(F.col("var"), F.lit(0.0)) / total, 6).alias("var_ratio"),
        )
    )
