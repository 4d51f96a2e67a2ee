"""Scalar (int8) embedding quantization + asymmetric-distance search.

The 100-TB problem this solves: an embedding corpus at scale is dominated
by vector bytes (64-dim float32 = 256 B/row; 100 TB of text easily carries
tens of TB of vectors). Uniform per-dimension 8-bit quantization — the
"SQ8" codec popularized by FAISS's ``ScalarQuantizer`` (public: Johnson,
Douze, Jégou, *Billion-scale similarity search with GPUs*, 2017) — stores
each dimension as one byte (4x smaller than float32, 8x smaller than the
double it decodes to), and **asymmetric distance computation (ADC)** keeps
the query in full precision so only the corpus side pays quantization
error.

Spark-first design:

- **Stats pass** — one global aggregate computing per-dimension min/max
  (2*dim agg expressions, constant combiner state; a single scan, no
  shuffle beyond the 1-row final agg). The resulting ``dim``-sized codebook
  is collected driver-side (bytes, not data — same bounded-scalar
  discipline as the IVF centroid rows in ``clustering.py``) and memoized
  per input content (``sources.memo``), so every SQ8 query after the first
  reuses it, and at deployment scale it is computed once offline like the
  IVF quantizer.
- **Encode / decode**, fused in ``sq8_reconstruct``, are one
  ``transform`` over the array column with the codebook shipped as TWO
  array literals (single Literal nodes — see
  ``similarity.hyperplane_signs`` for why not per-element lists):
  map-only, whole-stage codegen, zero shuffle, so encoding 100 TB is an
  embarrassingly parallel scan.
- **Search** is not here: ``similarity.vector_topk`` with
  ``prerank=Adc(reconstruct)`` scores the full-precision query against
  the DECODED corpus vector, keeps the top ``pool`` and reranks that
  pool exactly; its IVF probe gives IVF-SQ8 / IVF-PQ, and
  ``prerank=Hamming`` runs the 1-bit ``sign_words`` codec. This module
  holds the codecs: SQ8 (``sq8_train`` + ``sq8_reconstruct``), PQ
  (``fixture_pq_codebooks`` + ``pq_reconstruct``) and sign packing.

Cross-engine determinism (what makes the oracle exact): codes are
``clamp(floor((x - mn)/scale + 0.5), 0, 255)`` — floor arithmetic on
doubles, identical in Spark and DuckDB; decode is ``mn + code*scale``;
dot products fold the arrays in order on both engines, so even the
floating-point sums agree bitwise before the final 1e-6 rounding.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
from data_pipeline_with_spark_kafka_spark.operators import similarity as sim
from data_pipeline_with_spark_kafka_spark.sources import memo
from data_pipeline_with_spark_kafka_spark.sources.tables import FIXTURES_DIR


@memo.memoized
def sq8_train(df: DataFrame, vec_col: str, dim: int):
    """Per-dimension (min, scale) codebook from one aggregate pass.

    Returns ``(mins, scales)`` as float64 ndarrays with
    ``scale_d = (max_d - min_d)/255``. Collects exactly one row of
    ``2*dim`` doubles — bounded by the embedding dimensionality, never by
    corpus size. Memoized per input content (``sources.memo``; the
    deployment shape trains once offline, like the IVF quantizer)."""
    v = sim.as_double(F.col(vec_col))
    aggs = []
    for d in range(dim):
        aggs.append(F.min(F.element_at(v, d + 1)).alias(f"mn{d}"))
        aggs.append(F.max(F.element_at(v, d + 1)).alias(f"mx{d}"))
    row = df.agg(*aggs).collect()[0]
    mins = np.array([row[f"mn{d}"] for d in range(dim)], dtype=np.float64)
    maxs = np.array([row[f"mx{d}"] for d in range(dim)], dtype=np.float64)
    return mins, (maxs - mins) / 255.0


def _codebook_lits(mins: np.ndarray, scales: np.ndarray) -> tuple[Column, Column]:
    return F.lit(np.asarray(mins, dtype=np.float64)), F.lit(
        np.asarray(scales, dtype=np.float64)
    )


def sq8_reconstruct(vec: Column, mins: np.ndarray, scales: np.ndarray) -> Column:
    """Fused encode+decode (what the ADC scan actually evaluates — one
    transform, no intermediate code array materialized)."""
    mn_lit, sc_lit = _codebook_lits(mins, scales)

    def rec(x, i):
        mn = F.element_at(mn_lit, (i + 1).cast("int"))
        sc = F.element_at(sc_lit, (i + 1).cast("int"))
        c = F.least(F.greatest(F.floor((x - mn) / sc + F.lit(0.5)), F.lit(0)), F.lit(255))
        return F.when(sc == 0, mn).otherwise(mn + c.cast("double") * sc)

    return F.transform(vec, rec)


def sign_words(vec: Column, dim: int) -> list[Column]:
    """Pack the vector's sign bits into 32-bit words (one long per 32
    dims, MSB-first) — the 1-bit binarization codec (32x smaller than
    float32, 256x smaller than the double it scores against). 32-bit
    words keep every fold value far from int64 overflow on BOTH engines
    (DuckDB errors on signed overflow; Spark wraps silently — the same
    discipline as the 60-bit SimHash fingerprint)."""
    assert dim % 32 == 0, "sign packing expects whole 32-bit words"
    return [
        F.aggregate(
            F.slice(vec, lo + 1, 32),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + F.when(x >= 0, 1).otherwise(0),
        )
        for lo in range(0, dim, 32)
    ]


def sq8_reconstruction_error(
    df: DataFrame,
    vec_col: str,
    *,
    dim: int = 64,
) -> DataFrame:
    """Corpus-wide codec audit: mean/max absolute reconstruction error in
    ONE map-only pass + a 1-row global aggregate. The max error is bounded
    by ``max(scale)/2`` by construction (half a quantization step) — the
    property test pins that bound."""
    mins, scales = sq8_train(df, vec_col, dim)
    v = sim.as_double(F.col(vec_col))
    err = F.zip_with(v, sq8_reconstruct(v, mins, scales), lambda a, b: F.abs(a - b))
    return (
        df.select(
            F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x).alias("_sum"),
            F.aggregate(err, F.lit(0.0), lambda acc, x: F.greatest(acc, x)).alias("_mx"),
        )
        .agg(
            round_to(F.sum("_sum") / (F.count(F.lit(1)) * dim), 6).alias("mean_abs_err"),
            round_to(F.max("_mx"), 6).alias("max_abs_err"),
        )
        .select(F.lit(dim).cast("int").alias("dim"), "mean_abs_err", "max_abs_err")
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — Jegou et al., TPAMI 2011
# --------------------------------------------------------------------------

def fixture_pq_codebooks(name: str = "pq_codebooks_m8_k16"):
    """Load the committed PQ codebook artifact
    (``fixtures/<name>.parquet``, columns subspace/cid/centroid) as a
    numpy (m, k, subdim) array — or None if absent. Same offline-artifact
    contract as ``clustering.fixture_centroid_rows``: the DuckDB oracle
    reads the SAME parquet via read_parquet(), which is what makes the PQ
    pipeline fully cross-engine oracled."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(FIXTURES_DIR, f"{name}.parquet")
    if not os.path.exists(path):
        return None
    t = pq.read_table(path)
    subs = t.column("subspace").to_pylist()
    cids = t.column("cid").to_pylist()
    cents = t.column("centroid").to_pylist()
    m, k = max(subs) + 1, max(cids) + 1
    # A truncated/malformed fixture must fail loudly: zero-filled missing
    # centroids would yield plausible-looking but wrong reconstructions.
    if len(subs) != m * k or len({(s, c) for s, c in zip(subs, cids)}) != m * k:
        raise ValueError(
            f"PQ codebook fixture {name!r} is incomplete: expected every "
            f"(subspace, cid) pair for m={m}, k={k} ({m * k} rows), got "
            f"{len(subs)}"
        )
    subdim = len(cents[0])
    if any(len(v) != subdim for v in cents):
        raise ValueError(f"PQ codebook fixture {name!r} has ragged centroid lengths")
    out = np.zeros((m, k, subdim), dtype=np.float64)
    for s, c, v in zip(subs, cids, cents):
        out[s][c] = v
    return out


def pq_reconstruct(vec: Column, codebooks: np.ndarray) -> Column:
    """Fused PQ encode+decode: per subspace, pick the nearest codebook
    centroid (squared-L2 argmin, first-minimum tie-break = lowest cid)
    and concatenate the chosen centroids — a pure expression tree (the
    codebooks are literals), map-only, zero shuffle. The stored form of
    this operator is the 4-bit code per subspace (m=8, k=16 -> 4 bytes
    per vector, 64x smaller than float32); the scan evaluates the
    decoded vector directly, exactly like ``sq8_reconstruct``."""
    m, k, subdim = codebooks.shape
    recon_subs = []
    for s in range(m):
        sub = F.slice(vec, s * subdim + 1, subdim)
        cents = F.array(
            *[F.lit(np.asarray(codebooks[s][c], dtype=np.float64)) for c in range(k)]
        )
        # ONE transform looping over the k centroids at runtime, not k
        # unrolled fold subtrees: the unrolled form blows the expression
        # tree up ~k-fold, which pushed the projection out of whole-stage
        # codegen into interpreted eval (measured 3x slower end-to-end).
        # Values and first-minimum tie-break are identical.
        # nanvl(dist, +inf): a NaN input component makes EVERY distance
        # NaN, array_position(d, array_min(d)) then returns 0 (NaN != NaN)
        # and element_at(cents, 0) raises an invalid-index error mid-scan.
        # Mapping NaN distances to +inf keeps the argmin total: a NaN
        # vector deterministically encodes to cid 0 instead of crashing.
        dists = F.transform(
            cents,
            lambda c: F.nanvl(
                F.aggregate(
                    F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                F.lit(float("inf")),
            ),
        )
        idx = F.array_position(dists, F.array_min(dists))
        recon_subs.append(F.element_at(cents, idx.cast("int")))
    return F.concat(*recon_subs)
