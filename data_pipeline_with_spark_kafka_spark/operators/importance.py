"""DSIR-style hashed n-gram importance weighting for corpus selection.

Public method (Xie et al., *Data Selection for Language Models via
Importance Resampling*, NeurIPS 2023): estimate a TARGET unigram+bigram
distribution and the RAW-corpus distribution over ``B`` hash buckets, then
score every raw document by its importance log-weight

    w(doc) = sum over the doc's n-grams g of  ln p_target(b(g)) - ln p_raw(b(g))

with add-one smoothing. Documents that look like the target domain get
high weights; selection keeps the top slice (the deterministic variant of
DSIR's Gumbel resampling — same ranking, reproducible).

Spark-first shape, sized for 100 TB:

- **Bucketing** uses the md5-derived hash family proven out for
  MinHash/SimHash/hyperplane-LSH: ``conv(substr(md5(g),1,8),16,10) % B``
  is bit-identical in DuckDB (``CAST('0x'||substr(md5(g),1,8) AS BIGINT)``)
  so the WHOLE pipeline — hashing, counting, smoothing, scoring — is
  cross-engine oracled, not just sampled.
- **Stats pass**: explode n-grams -> groupBy bucket. B=256 groups means
  the shuffle after map-side combine is O(partitions * B) rows — trivially
  small at any corpus size. Target and raw counts come from ONE pass via
  conditional aggregation (no second scan).
- **The bucket log-weight table is a B-sized array literal**, collected
  driver-side (B doubles — bytes; same bounded-scalar discipline as the
  IVF centroid rows). Scoring is then a PURE per-row expression:
  ``aggregate(grams, 0.0, acc + lw[bucket(g)])`` — zero shuffle, no join,
  whole-stage codegen; the token stream never leaves its input partition.
  The only post-scan exchange is the global top-k window.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
from data_pipeline_with_spark_kafka_spark.sources import memo

DEFAULT_BUCKETS = 256


def gram_bucket(g: Column, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """md5-derived bucket id in [0, n_buckets) — cross-engine identical."""
    return F.conv(F.substring(F.md5(g.cast("binary")), 1, 8), 16, 10).cast("long") % n_buckets


def unigram_bigram_grams(text: Column) -> Column:
    """Whitespace unigrams + adjacent bigrams as one array<string>.

    Built with slice+transform (index lambda pairs tok[i] with tok[i+1])
    — no explode needed on the scoring path, so the grams array stays a
    per-row value."""
    t = F.split(text, " ")
    bigrams = F.transform(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.element_at(t, i + F.lit(2))),
    )
    return F.concat(t, bigrams)


@memo.memoized
def dsir_log_weights(
    base: DataFrame,
    grams_col: str,
    is_target_col: str,
    *,
    n_buckets: int = DEFAULT_BUCKETS,
) -> np.ndarray:
    """One-pass bucket statistics -> B-sized ln(p_target/p_raw) array.

    Add-one smoothing on both distributions keeps empty buckets finite;
    totals are exact integers so the smoothed ratios are bit-identical
    across engines. Memoized per input content (``sources.memo``)."""
    rows = (
        base.select(F.col(is_target_col).alias("_t"), F.explode(grams_col).alias("_g"))
        .groupBy(gram_bucket(F.col("_g"), n_buckets).alias("b"))
        .agg(
            F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("tc"),
            F.count(F.lit(1)).alias("rc"),
        )
        .collect()
    )
    tc = np.zeros(n_buckets, dtype=np.int64)
    rc = np.zeros(n_buckets, dtype=np.int64)
    for r in rows:
        tc[r["b"]] = r["tc"]
        rc[r["b"]] = r["rc"]
    tt, rt = int(tc.sum()), int(rc.sum())
    lw = np.array(
        [
            math.log((int(tc[b]) + 1) / (tt + n_buckets))
            - math.log((int(rc[b]) + 1) / (rt + n_buckets))
            for b in range(n_buckets)
        ],
        dtype=np.float64,
    )
    return lw


def dsir_score(grams: Column, log_weights: np.ndarray) -> Column:
    """Per-row importance log-weight: fold the grams array against the
    literal bucket-weight table. Zero shuffle, zero join."""
    lw_lit = F.lit(np.asarray(log_weights, dtype=np.float64))
    n = len(log_weights)
    return F.aggregate(
        grams,
        F.lit(0.0),
        lambda acc, g: acc + F.element_at(lw_lit, (gram_bucket(g, n) + 1).cast("int")),
    )


def dsir_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    *,
    k: int = 50,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Rank raw documents by target-domain importance; keep the top k.

    Output: (id, dsir_weight, rank) — rank over the ROUNDED weight so the
    ordering is stable across engines' last-ulp summation differences.
    The global cut is orderBy+limit (TakeOrderedAndProject: per-partition
    heaps), NOT a corpus-wide row_number window — the rank column is
    attached afterwards over the k-row result, so nothing ever sorts the
    full corpus on one partition."""
    base = docs.select(
        F.col(id_col),
        is_target.alias("_is_tgt"),
        unigram_bigram_grams(F.col(text_col)).alias("_grams"),
    )
    lw = dsir_log_weights(base, "_grams", "_is_tgt", n_buckets=n_buckets)
    scored = base.select(
        F.col(id_col), round_to(dsir_score(F.col("_grams"), lw), 6).alias("dsir_weight")
    )
    top = scored.orderBy(F.col("dsir_weight").desc(), F.col(id_col)).limit(k)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("dsir_weight").desc(), F.col(id_col)))
        .cast("int"),
    )
