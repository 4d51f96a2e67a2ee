"""Distributed PCA over an embedding column (fit + project).

The 100-TB shape: the only thing that ever crosses the cluster is the
d x d Gram matrix and the d-vector column sum — O(d^2) scalars per
partition, independent of row count. The eigendecomposition happens on
the driver on a d x d matrix (d = 64 here: 4 KB), and projection is a
zero-shuffle per-row expression over literal component weights — the
same literal-broadcast discipline as the IVF cell assignment
(operators/clustering.py).

- **Fit** (`fit_pca`): one ``mapInPandas`` pass computes per-partition
  partials (X^T X via BLAS on each Arrow batch, column sums, row count);
  three tiny aggregates reduce them; the driver assembles the covariance
  C = G/n - mu mu^T and runs ``numpy.linalg.eigh``. Sign convention: the
  largest-|.| element of every eigenvector is made positive, so the fit
  is deterministic and re-runnable.
- **Artifact**: components are persisted as a plain parquet fixture
  (``fixtures/pca_components_m8.parquet``, written by
  tools/gen_pca_fixture.py) — versioned next to the code like the IVF
  quantizer, and readable by the DuckDB oracle via ``read_parquet`` so
  projection is fully cross-engine verified.
- **Project** (`project_components`): score_c = v . w_c - mu . w_c per
  component, a pure expression tree over literal weights — no join, no
  shuffle, stacks onto any scan.

No counterpart in the 319-LoC reference (no linear algebra there); part
of the [EXT] embedding-pipeline surface alongside dedup/ANN/SemDeDup.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
from data_pipeline_with_spark_kafka_spark.sources.tables import FIXTURES_DIR

_PARTIAL_SCHEMA = "n long, s array<double>, g array<double>"


def _gram_partials(emb: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Per-partition (count, column-sum, flattened X^T X) — the sufficient
    statistics for mean + covariance, O(d^2) per partition."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})

    return emb.select(F.col(vec_col).alias("v")).mapInPandas(fold, _PARTIAL_SCHEMA)


def fit_pca(emb: DataFrame, vec_col: str, *, dim: int, m: int) -> list[tuple]:
    """Fit the top-``m`` principal components.

    Returns ``[(comp_id, weights, proj_offset, eigenvalue), ...]`` sorted
    by eigenvalue descending — ``proj_offset`` is mu . w, so a projection
    score is ``v . w - proj_offset``. Driver-side data volume is the
    reduced sufficient statistics only (d^2 + d + 1 scalars; documented
    bounded collect, same class as the k-row IVF centroid rows).
    """
    partials = _gram_partials(emb, vec_col, dim).persist()
    try:
        n = partials.agg(F.sum("n")).collect()[0][0]
        if not n:
            raise ValueError("fit_pca: empty input")
        srows = (
            partials.select(F.posexplode("s").alias("i", "v"))
            .groupBy("i").agg(F.sum("v").alias("v")).collect()
        )
        grows = (
            partials.select(F.posexplode("g").alias("i", "v"))
            .groupBy("i").agg(F.sum("v").alias("v")).collect()
        )
    finally:
        partials.unpersist()
    s = np.zeros(dim)
    for r in srows:
        s[r.i] = r.v
    g = np.zeros(dim * dim)
    for r in grows:
        g[r.i] = r.v
    mu = s / n
    cov = g.reshape(dim, dim) / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:m]
    out = []
    for rank, idx in enumerate(order):
        w = evecs[:, idx].copy()
        # Deterministic sign: largest-|.| element positive.
        j = int(np.argmax(np.abs(w)))
        if w[j] < 0:
            w = -w
        out.append((rank, [float(x) for x in w], float(mu @ w), float(evals[idx])))
    return out


def fixture_component_rows(name: str):
    """Load a committed PCA artifact (``fixtures/<name>.parquet``, columns
    comp_id/weights/proj_offset/eigenvalue) driver-side, or None if absent
    (callers fall back to in-session fit). Same deployment shape as the
    IVF quantizer fixture — and what lets the DuckDB oracle mirror the
    projection over the identical weights."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(FIXTURES_DIR, f"{name}.parquet")
    if not os.path.exists(path):
        return None
    t = pq.read_table(path)
    return [
        (int(c), [float(x) for x in w], float(o), float(e))
        for c, w, o, e in zip(
            t.column("comp_id").to_pylist(),
            t.column("weights").to_pylist(),
            t.column("proj_offset").to_pylist(),
            t.column("eigenvalue").to_pylist(),
        )
    ]


def _dot_literal(vec: Column, weights: list[float]) -> Column:
    """v . w for a literal weight vector — float elements cast to double
    BEFORE arithmetic (both engines agree bit-for-bit per-row)."""
    lits = F.array(*[F.lit(float(w)) for w in weights])
    return F.aggregate(
        F.zip_with(vec, lits, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def project_components(
    emb: DataFrame, id_col: str, vec_col: str, components: list[tuple], *, scale: int = 4
) -> DataFrame:
    """Long-format projection ``(id, comp_id, score)`` — one stacked
    expression per component, zero shuffles, zero joins."""
    scores = F.array(
        *[
            F.struct(
                F.lit(cid).alias("comp_id"),
                round_to(_dot_literal(F.col(vec_col), w) - F.lit(off), scale).alias("score"),
            )
            for cid, w, off, _ev in components
        ]
    )
    return (
        emb.select(F.col(id_col).alias("id"), F.explode(scores).alias("c"))
        .select("id", F.col("c.comp_id").alias("comp_id"), F.col("c.score").alias("score"))
    )
