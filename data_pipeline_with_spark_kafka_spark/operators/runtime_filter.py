"""Bloom-filter join pruning: cut a fact table's shuffle before a
selective join, with a filter the optimizer can't derive.

The 100-TB problem this solves: ``fact JOIN dim`` where a predicate on
the dim side keeps only a few percent of dim keys. The join itself
shuffles (or at best broadcast-hashes) EVERY fact row, although most
will not survive the join. Spark's own runtime row filters
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) inject exactly this
prune — but only when the optimizer can see a creatable filter below a
shuffle, and never through the constructs user pipelines put between the
dim predicate and the join (aggregated build sides, unioned dims,
checkpoint/persist boundaries, non-equi residuals). This module is the
explicit, composable form of the same trick, built so the expensive side
stays entirely map-side:

- **build** (``bloom_relation``): k seeded ``xxhash64`` bit positions
  per dim key, exploded to (word, mask) and folded with the ``bit_or``
  aggregate — ONE narrow shuffle over the (column-pruned) dim keys whose
  partial aggregation bounds the reduce input at partitions x m/64 rows;
  output is at most ``m_bits/64`` rows no matter how large the dim is.
  The key may span several columns (``incremental.incremental_novel``
  builds its filter over the two fingerprint halves).
- **probe** (``bloom_prune_literal``): ``bloom_words`` runs the bounded
  build eagerly and densifies it on the driver into ``m_bits/64`` words
  — a 2^18-bit filter is a 4096-long array (32 KB). The words ride into
  the fact plan as a plain array LITERAL, so the k bit tests stay inside
  WholeStageCodegen (measured at sf0.1, 600 k fact rows: ~0.2 s over
  the 0.10 s plain count). Dense array, NOT a map, deliberately: Spark's
  ``element_at`` on a map is a LINEAR SCAN of ArrayBasedMapData (k
  probes x m/64 comparisons per fact row turned a measured 0.17 s count
  into 2.2 s at sf0.1); array ``element_at`` is an O(1) index. One
  build job per dim content — the same offline-artifact class as the
  SQ8/PQ codebooks, and allowlisted the same way in the
  lazy-construction contract. The built literal COLUMN is what
  ``sources.memo`` keeps (``_bloom_literal``): ``F.lit`` on a 4096-long
  Python list marshals element-wise over py4j (2.4 s — more than the
  prune), the ndarray path cuts that ~3x, and the memo makes every
  construction of the same dim after the first free. (A lazy form that
  carried the words in as a scalar subquery launched no job at build
  time, but a Filter holding a subquery expression evaluates on Spark's
  INTERPRETED predicate path: 1.7 s for the same count.)

  The probe does not explode, shuffle, or run a UDF on the fact side:
  the fact table is touched exactly once, and only surviving rows reach
  the join's Exchange.

This differs from ``incremental.bloom_might_contain`` deliberately: that
probe posexplodes the (small) ingest batch and re-groups it — the right
shape when the probe side is the small side. Join pruning is the
opposite regime (probe side = the 100-TB fact), where any per-row
explode or added shuffle would cost more than the join it prunes.

Correctness contract: the same seeded-hash family runs on both sides,
so the filter has NO false negatives — pruning can only drop rows whose
key is provably absent from the dim. For inner/semi joins the pruned
join is therefore EXACT (false positives survive the prune and are
dropped by the join itself), which is what lets the registered query
(`join_bloom_pruned_urgent_revenue`) be oracled against the PLAIN join
SQL: the value hash matching the un-pruned oracle is a proof that the
prune lost nothing. Outer joins must not prune the preserved side;
``bloom_pruned_join`` refuses them.

NULL fact keys hash to the k positions of the seed constants alone
(``xxhash64`` folds nothing for a NULL operand), the same on every row;
whether those bits happen to be set only decides whether NULL rows are
dropped by the prune or by the inner join — the result is identical.

Reference parity: the reference's single join is a stream-static
enrichment (spark_consumer_kafka.py:46-54) with no runtime filtering;
this operator is part of the [EXT] scale surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from data_pipeline_with_spark_kafka_spark.sources import memo

DEFAULT_M_BITS = 1 << 18  # 32 KB of filter; FPR ~1.5% at 30k keys, k=5
DEFAULT_K = 5


def _positions(keys: tuple[str, ...], m_bits: int, k: int) -> F.Column:
    """array of k bit positions in [0, m_bits) for one key value."""
    return F.array(
        *[F.pmod(F.xxhash64(*keys, F.lit(i)), F.lit(m_bits)) for i in range(k)]
    )


def bloom_relation(
    dim: DataFrame, *key_cols: str, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
) -> DataFrame:
    """(word: long, bits: long) Bloom filter over the key ``key_cols`` of
    ``dim`` — at most ``m_bits/64`` rows regardless of dim row count."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    probes = dim.select(F.explode(_positions(key_cols, m_bits, k)).alias("pos"))
    return (
        probes.select(
            F.shiftright("pos", 6).alias("word"),
            F.expr("shiftleft(1L, cast(pos & 63 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .limit(m_bits // 64)  # states the pmod bound in the plan itself
    )


def bloom_words(
    dim: DataFrame,
    key_col: str,
    *,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> list[int]:
    """Materialize the dense word vector on the driver: ``m_bits/64``
    signed int64s (<= 32 KB at the 2^18 default — bounded by m_bits,
    never by dim size). One aggregate job."""
    rows = bloom_relation(dim, key_col, m_bits=m_bits, k=k).collect()
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["word"]] = r["bits"]
    return words


def bloom_literal_column(words: list[int]) -> Column:
    """``words`` as an ArrayType(Long) literal Column. Goes through a
    numpy int64 array: ``F.lit`` on a plain Python list marshals
    element-by-element over py4j (measured 2.4 s for 4096 longs — more
    than the prune itself); the ndarray path is ~3x faster cold and
    ``_bloom_literal`` memoizes the built Column so repeated constructions
    pay nothing."""
    import numpy as np

    return F.lit(np.array(words, dtype=np.int64))


@memo.memoized
def _bloom_literal(dim: DataFrame, dim_key: str, m_bits: int, k: int):
    return bloom_literal_column(bloom_words(dim, dim_key, m_bits=m_bits, k=k))


def bloom_prune_literal(
    fact: DataFrame,
    key_col: str,
    words: Column,
    *,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """The codegen fast path: ``words``, the array literal Column that
    ``bloom_literal_column`` built, is embedded in the fact plan, so the
    k bit tests compile into the scan's WholeStageCodegen stage."""
    pruned = fact.withColumn("__bloom", words)
    keep = None
    for i in range(k):
        pos = f"pmod(xxhash64(`{key_col}`, {i}), {m_bits})"
        bit = F.expr(
            f"(shiftright(element_at(__bloom, cast(shiftright({pos}, 6) AS INT) + 1), "
            f"cast({pos} & 63 AS INT)) & 1L) = 1L"
        )
        keep = bit if keep is None else keep & bit
    return pruned.where(keep).drop("__bloom")


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    how: str = "inner",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """``fact JOIN dim`` with the fact side bloom-pruned first. Exact for
    inner/semi joins (no false negatives; false positives die in the
    join). Refuses outer joins — pruning a preserved side changes them.

    The filter is built EAGERLY (one bounded job, memoized per dim
    content) and embedded as a literal — see the module docstring."""
    if how not in ("inner", "semi", "left_semi", "leftsemi"):
        raise ValueError(f"bloom prune is only exact for inner/semi joins, not {how!r}")
    arr = _bloom_literal(dim, dim_key, m_bits, k)
    pruned = bloom_prune_literal(fact, fact_key, arr, m_bits=m_bits, k=k)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], how)
