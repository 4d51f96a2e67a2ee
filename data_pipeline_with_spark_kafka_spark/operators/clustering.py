"""Distributed k-means over embedding columns: the IVF coarse quantizer.

Pure DataFrame/built-in-function implementation (no MLlib dependency, no
RDDs). One Lloyd's trainer, ``kmeans_verified``: hash-seeded init (the k
rows with the smallest ``xxhash64(id, seed)`` — stable across runs and
partitionings), then per iteration one argmin assignment and one
per-(cid, dim) mean, with the centroids rounded to 6 dp on the driver so
the DuckDB oracle replays the loop bit for bit. A small input runs the
loop in numpy on the driver; a large one runs each iteration as one
literal-centroid argmin scan (``cell_multi_assign``) plus one aggregate.

IVF (inverted-file) search assigns every vector to its nearest centroid
and lets a query probe only its ``n_probe`` nearest cells; it is the
``Ivf`` probe of ``similarity.vector_topk`` (one query) and
``similarity.knn_join_ivf`` (a query set), fed by the centroid rows
here (``fixture_centroid_rows`` or ``to_centroid_rows``).

Every nearest-centroid argmin in the package is ``cell_multi_assign``,
for the members and for the query alike: the k centroids ship as
expression literals, so assignment is a narrow map over the scan, ranked
by ``(distance, cid)``. The fact table never self-joins, and no join
touches the centroids (``tests/test_scale_ops.py`` checks the IVF, IVF-SQ8
and IVF-PQ plans for a nested-loop join).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.iterate import fits_driver
from data_pipeline_with_spark_kafka_spark.operators.similarity import as_double
from data_pipeline_with_spark_kafka_spark.sources import memo
from data_pipeline_with_spark_kafka_spark.sources.tables import FIXTURES_DIR

#: Centroid quantization after every mean recomputation (decimal places).
_ROUND_DP = 6


def _round_dp(x: float) -> float:
    """DuckDB ROUND to ``_ROUND_DP`` places: half-away-from-zero on the
    scaled product (the functions/rounding contract, applied driver-side)."""
    q = 10**_ROUND_DP
    return math.copysign(math.floor(abs(x) * q + 0.5), x) / q


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

    Two tiers, chosen once by ``iterate.fits_driver`` on the
    NULL-filtered ``(id, vector, init hash)`` frame:

    - driver tier: that frame is collected once with ``toArrow()`` and
      the loop runs in numpy (``_lloyd_on_driver``), one job in all;
    - distributed tier: the frame is ``localCheckpoint()``-ed once (the
      lineage cut ``operators/iterate.py`` makes per generation, holding
      no cache entry to release); the init reads that leaf, then each
      iteration is ONE argmin-assignment scan of it
      (``cell_multi_assign``, ``n_assign=1``: k literal arrays, no join)
      + ONE per-(cid,dim) mean aggregate; k*d doubles travel to the
      driver per iteration, never rows.

    The distances agree exactly between the tiers (see
    ``_lloyd_on_driver``); the per-cell sums do not always, because
    Spark adds in partial-aggregation order and numpy in row order, so
    they can differ by an ULP. The 6-dp rounding hides that difference
    unless a mean falls within an ULP of a 6-dp half-way point: there
    the tiers round one coordinate apart and the following iterations
    can diverge. The tier-equality test and the sf0.01-sf1 comparisons
    in CHANGES.md sample a few (k, seed) cases and hit no such point;
    that does not rule one out.

    Returns final ``[(cid, dim, centroid_val, cluster_n), ...]`` rows
    (cid 1-based, dim 0-based, cid-major), cluster_n from the LAST
    assignment; ``to_centroid_rows`` reshapes them for the IVF operators.
    Memoized per input content (``sources.memo``).
    """
    # NULL-vector contract (the NULL-text rule from the edge sweep):
    # rows without an embedding are excluded explicitly on BOTH engines.
    loop_input = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        as_double(F.col(vec_col)).alias("_v"),
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"),
    )
    if fits_driver(loop_input):
        return _lloyd_on_driver(loop_input.toArrow(), k, iterations)
    base = loop_input.localCheckpoint()
    init_rows = base.orderBy("_h", "_id").limit(k).collect()
    if not init_rows:
        return []
    cents = [[_round_dp(float(x)) for x in r["_v"]] for r in init_rows]
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
                _round_dp(means[(j + 1, p)]) if (j + 1, p) in means else cents[j][p]
                for p in range(dim)
            ]
            for j in range(len(cents))
        ]
    return [
        (j + 1, p, cents[j][p], counts[j + 1])
        for j in range(len(cents))
        for p in range(dim)
    ]


def _lloyd_on_driver(table, k: int, iterations: int) -> list[tuple[int, int, float, int]]:
    """The driver tier of ``kmeans_verified`` over one collected
    ``pyarrow.Table`` (``_id``, ``_v``, ``_h``), step for step the
    distributed loop:

    - init: the k rows smallest by ``(_h, _id)``;
    - distance: ``cell_multi_assign`` folds the squared differences left
      to right from 0.0 (Spark's ``aggregate``), so the sum here is the
      last element of a ``cumsum``, not numpy's pairwise ``sum``: the two
      tiers compare identical doubles;
    - argmin ties go to the lowest cid, as the ``(d, cid)`` sort does;
    - the per-cell sums run in row order (``np.add.at``), and the means
      are rounded to 6 dp; an empty cell keeps its centroid.

    The vectors are equal-length with no NULL element, as in every
    embedding table here."""
    import numpy as np

    if table.num_rows == 0:
        return []
    ids = table.column("_id").to_pylist()
    hashes = table.column("_h").to_pylist()
    vecs = np.asarray(table.column("_v").to_pylist(), dtype=np.float64)
    init = sorted(range(len(ids)), key=lambda i: (hashes[i], ids[i]))[:k]
    cents = np.array([[_round_dp(float(x)) for x in vecs[i]] for i in init])
    counts = np.zeros(len(cents), dtype=np.int64)
    for _ in range(iterations):
        dist = np.empty((len(vecs), len(cents)))
        for j, c in enumerate(cents):  # one (n, dim) temporary at a time
            diff = vecs - c
            dist[:, j] = np.cumsum(diff * diff, axis=1)[:, -1]
        cell = np.argmin(dist, axis=1)  # first minimum: the lowest cid
        sums = np.zeros_like(cents)
        np.add.at(sums, cell, vecs)
        counts = np.bincount(cell, minlength=len(cents))
        filled = counts > 0
        means = sums[filled] / counts[filled][:, None]
        cents[filled] = [[_round_dp(float(x)) for x in row] for row in means]
    dim = cents.shape[1]
    return [
        (j + 1, p, float(cents[j][p]), int(counts[j]))
        for j in range(len(cents))
        for p in range(dim)
    ]


def to_centroid_rows(trained: list) -> list[tuple[int, list[float]]]:
    """``kmeans_verified`` rows as ``[(cid, centroid), ...]``: the shape
    ``cell_multi_assign``, ``similarity.Ivf`` and the committed quantizer
    fixtures (``fixture_centroid_rows``) share."""
    cents: dict[int, list[float]] = {}
    for cid, _dim, x, _n in trained:  # cid-major, dim-ascending
        cents.setdefault(cid, []).append(x)
    return list(cents.items())
