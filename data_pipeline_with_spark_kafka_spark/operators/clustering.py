"""Distributed k-means over embedding columns + IVF similarity search.

Pure DataFrame/built-in-function implementation (no MLlib dependency, no
RDDs). One Lloyd's trainer, ``kmeans_verified``: hash-seeded init (the k
rows with the smallest ``xxhash64(id, seed)`` — stable across runs and
partitionings), then per iteration one literal-centroid argmin scan
(``cell_multi_assign``) and one per-(cid, dim) mean aggregate, with the
centroids rounded to 6 dp on the driver so the DuckDB oracle replays the
loop bit for bit.

IVF (inverted-file) search: assign every vector to its nearest centroid
offline; a query probes only the ``n_probe`` nearest cells. Same
probe/rerank plumbing as the LSH variant (operators/similarity.py) with a
learned coarse quantizer instead of random hyperplanes.

Every nearest-centroid argmin in the package is ``cell_multi_assign``:
the k centroids ship as expression literals, so assignment is a narrow
map over the scan, ranked by ``(distance, cid)``. The fact table never
self-joins and never joins the centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.similarity import as_double
from data_pipeline_with_spark_kafka_spark.sources import memo
from data_pipeline_with_spark_kafka_spark.sources.tables import FIXTURES_DIR

#: Centroid quantization after every mean recomputation (decimal places).
_ROUND_DP = 6


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def fixture_centroid_rows(name: str):
    """Load a committed offline quantizer artifact (``fixtures/<name>.parquet``,
    columns cid/centroid) as ``[(cid, [float, ...]), ...]`` — or None if the
    fixture is absent (callers fall back to in-session training).

    This is the deployment shape: the coarse quantizer is trained once on
    a sample (tools/gen_centroid_fixture.py), versioned next to the code,
    and read driver-side (k x dim doubles — bytes, not data). Because the
    artifact is a plain parquet file, the DuckDB oracles read the SAME
    relation via read_parquet() and can mirror cell assignment + exact
    rerank in SQL — turning the IVF queries from rows-only into fully
    oracled (round-5 verdict task #3)."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(FIXTURES_DIR, f"{name}.parquet")
    if not os.path.exists(path):
        return None
    t = pq.read_table(path)
    return [
        (int(c), [float(x) for x in v])
        for c, v in zip(t.column("cid").to_pylist(), t.column("centroid").to_pylist())
    ]


def cell_multi_assign(
    df: DataFrame,
    vec_col: str,
    centroid_rows: list,
    *,
    n_assign: int = 2,
    out_col: str = "cell",
) -> DataFrame:
    """SHUFFLE-FREE multi-cell assignment: each row gains ``n_assign``
    copies, one per nearest IVF cell.

    The k centroids are a tiny artifact (k x dim doubles — a committed
    fixture or ``to_centroid_rows(kmeans_verified(...))``), so instead of
    a broadcast join they ship as LITERALS inside one codegen expression:
    an array of (sq_dist, cid) structs, ``array_sort`` (lexicographic:
    distance, then cid tiebreak — deterministic), ``slice`` the
    ``n_assign`` nearest, explode. Zero Exchange, zero Python — assignment is a narrow map over
    the scan, which is the shape that matters when the fact side is 100 TB.

    Each centroid vector is ONE ndarray Literal (see
    ``similarity.hyperplane_signs`` for why a Python list would bloat the
    tree to k x dim nodes).

    Multi-assignment (``n_assign >= 2``) is the boundary-recall device:
    a near pair split across two cells still collides if either vector's
    second-nearest cell is the other's cell — the standard IVF multi-probe
    tradeoff, costing ``n_assign``-fold replication instead of a rebuild.
    """
    import numpy as np

    v = as_double(F.col(vec_col))
    scored = F.array(
        *[
            F.struct(
                _sq_dist(v, F.lit(np.asarray(c, dtype=np.float64))).alias("d"),
                F.lit(int(cid)).alias("cid"),
            )
            for cid, c in centroid_rows
        ]
    )
    top = F.slice(F.array_sort(scored), 1, n_assign)
    return df.withColumn(out_col, F.explode(F.transform(top, lambda s: s["cid"])))


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    centroid_rows: list,
    *,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF approximate top-k cosine: probe the n_probe cells nearest to the
    query (``query_df`` holds one query row), exact-rerank only their
    members. Members and the query take their cells from the same
    literal-centroid argmin (``cell_multi_assign``), so no join touches
    the centroids."""
    from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
    from data_pipeline_with_spark_kafka_spark.operators.similarity import (
        cosine_pre,
        l2_norm,
    )

    # limit(1): the broadcast probe side is n_probe rows by construction,
    # however large the relation the query row is filtered from.
    qcells = (
        cell_multi_assign(query_df.limit(1), vec_col, centroid_rows, n_assign=n_probe, out_col="cid")
        .select("cid", as_double(F.col(vec_col)).alias("qvec"))
        .withColumn("qn", l2_norm(F.col("qvec")))
    )

    # Norm hoist (similarity.cosine_pre contract): the query norm is a
    # broadcast-side column instead of a 64-wide interpreted fold per
    # member row; the member cast + norm bind once per row.
    fact = (
        cell_multi_assign(df, vec_col, centroid_rows, n_assign=1, out_col="cid")
        .select("cid", F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .withColumn("_n", l2_norm(F.col("_v")))
    )
    return (
        fact.join(F.broadcast(qcells), "cid")
        .select(
            F.col(id_col),
            round_to(
                cosine_pre(F.col("_v"), F.col("_n"), F.col("qvec"), F.col("qn")), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


@memo.memoized
def kmeans_verified(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 8,
    iterations: int = 5,
    seed: int = 42,
) -> list[tuple[int, int, float, int]]:
    """Lloyd's k-means with per-iteration centroid QUANTIZATION: the
    package's one k-means, serving the ``emb_kmeans_train`` query,
    ``run.py cluster``, the in-session IVF quantizer and
    tools/gen_centroid_fixture.py.

    The training loop is oracle-able in DuckDB
    (queries/emb_analytics.py unrolls the iterations as chained
    MATERIALIZED CTE stages, the BPE/GD pattern):

    - init: the k vectors with the smallest ``(xxhash64(id, seed), id)``
      — mirrorable via the pure-SQL XXH64 (queries/xxh64_sql.py);
    - after every mean recomputation the centroids are ROUNDED to
      ``_ROUND_DP`` decimals on the DRIVER, so both engines enter the
      next assignment with bit-identical centroid literals. Residual
      risk is only a vector sitting within ~1e-15 of an exact
      two-centroid tie (the discrete analogue of the GD trainer's
      contractive-map argument; distances to distinct centroids on this
      corpus differ at >=1e-3);
    - empty clusters keep their previous centroid (COALESCE in SQL);
    - rows with a NULL vector are excluded.

    Scale shape: the NULL-filtered input is ``localCheckpoint()``-ed
    once (the lineage cut ``operators/iterate.py`` makes per generation,
    holding no cache entry to release); the init reads that leaf, then
    each iteration is ONE argmin-assignment scan of it (``cell_multi_assign``,
    ``n_assign=1``: k literal arrays, no join) + ONE per-(cid,dim) mean
    aggregate; k*d doubles travel to the driver per iteration, never
    rows.

    Returns final ``[(cid, dim, centroid_val, cluster_n), ...]`` rows
    (cid 1-based, dim 0-based, cid-major), cluster_n from the LAST
    assignment; ``to_centroid_rows`` reshapes them for the IVF operators.
    Memoized per input content (``sources.memo``).
    """
    import math

    q = 10**_ROUND_DP

    def rnd(x: float) -> float:
        # DuckDB ROUND = half-away-from-zero on the scaled product (the
        # functions/rounding contract, applied driver-side).
        return math.copysign(math.floor(abs(x) * q + 0.5), x) / q

    # NULL-vector contract (the NULL-text rule from the edge sweep):
    # rows without an embedding are excluded explicitly on BOTH engines.
    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v"))
        .localCheckpoint()
    )
    init_rows = (
        base.withColumn("_h", F.xxhash64(F.col("_id"), F.lit(seed)))
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    if not init_rows:
        return []
    cents = [[rnd(float(x)) for x in r["_v"]] for r in init_rows]
    dim = len(cents[0])
    counts = {c: 0 for c in range(1, len(cents) + 1)}
    for _ in range(iterations):
        assigned = cell_multi_assign(
            base, "_v", list(enumerate(cents, 1)), n_assign=1, out_col="cid"
        )
        rows = (
            assigned.select("cid", F.posexplode("_v"))
            .groupBy("cid", "pos")
            .agg(F.avg("col").alias("m"), F.count("*").alias("n"))
            .collect()
        )  # k*d scalars — feature-bounded, never row-bounded
        means = {(r["cid"], r["pos"]): float(r["m"]) for r in rows}
        counts = {c: 0 for c in range(1, len(cents) + 1)}
        for r in rows:
            if r["pos"] == 0:
                counts[r["cid"]] = int(r["n"])
        cents = [
            [
                rnd(means[(j + 1, p)]) if (j + 1, p) in means else cents[j][p]
                for p in range(dim)
            ]
            for j in range(len(cents))
        ]
    return [
        (j + 1, p, cents[j][p], counts[j + 1])
        for j in range(len(cents))
        for p in range(dim)
    ]


def to_centroid_rows(trained: list) -> list[tuple[int, list[float]]]:
    """``kmeans_verified`` rows as ``[(cid, centroid), ...]``: the shape
    ``cell_multi_assign``, ``ivf_topk`` and the committed quantizer
    fixtures (``fixture_centroid_rows``) share."""
    cents: dict[int, list[float]] = {}
    for cid, _dim, x, _n in trained:  # cid-major, dim-ascending
        cents.setdefault(cid, []).append(x)
    return list(cents.items())
