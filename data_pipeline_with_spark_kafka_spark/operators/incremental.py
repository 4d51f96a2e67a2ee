"""Incremental (batch-vs-corpus) dedup: admit only the NOVEL documents of
a new ingest batch against an already-curated corpus.

The 100-TB shape of this problem: the known corpus is huge but its
*fingerprint* relation is narrow (one 8-byte hash per doc), and the new
batch is comparatively small. Two tiers:

- ``incremental_novel`` — exact: left-anti join of the batch against the
  known fingerprints (one shuffle of batch + fingerprints), then
  keep-first within the batch. This is the correctness tier and the
  registered query's semantics.

- ``bloom_prefilter`` — a DataFrame-NATIVE Bloom filter. Spark's built-in
  ``DataFrame.stat.bloomFilter`` materializes the sketch on the driver
  where only a Python-side ``mightContain`` exists (a per-row round-trip
  — the slow path by construction), so instead the filter is built AS A
  RELATION (``runtime_filter.bloom_relation`` over the key (fp, fp2)):
  k seeded-hash bit positions per known fingerprint, exploded to
  (word_index, bit_mask) rows, aggregated with ``bit_or`` into at most
  ``m_bits/64`` rows (a 2^20-bit filter is 16 K rows ≈ 128 KB — always
  broadcastable, independent of corpus size). Probing is an equi-join of
  the batch's k probe positions against that broadcast relation: a batch
  doc "might be known" iff all k probes hit. No UDF, no driver sketch,
  whole-stage-codegen end to end.

  Bloom guarantees: no false negatives (a doc reported novel IS novel),
  tunable false-positive rate; callers route the (small) might-contain
  subset through the exact anti-join and skip the corpus shuffle for the
  definitely-novel rest. ``incremental_novel(prefilter=True)`` wires the
  two tiers together with identical output to the exact tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.dedup import (
    band_buckets,
    minhash_signatures,
    verified_pairs,
)
from data_pipeline_with_spark_kafka_spark.operators.runtime_filter import bloom_relation


def fingerprints(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """(id, fp, fp2) — 128-bit content fingerprint as two independently
    seeded xxhash64 halves. 64 bits alone collides at the billions-of-docs
    scale this targets (birthday bound ~n^2/2^65); 128 keeps the false-
    merge probability negligible while staying a cheap fixed-width shuffle
    key (the raw content never shuffles)."""
    c = F.col(content_col)
    return df.select(
        F.col(id_col),
        F.xxhash64(c).alias("fp"),
        F.xxhash64(c, F.lit(1)).alias("fp2"),
    )


def bloom_might_contain(
    batch_fp: DataFrame, bloom: DataFrame, *, m_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """(id, fp, might_contain) — probe each batch fingerprint against the
    Bloom relation. ``might_contain`` is false only for definitely-novel
    docs (no false negatives). The bloom side is broadcast (bounded by
    m_bits, never by corpus size)."""
    probes = batch_fp.select(
        "*",
        F.posexplode(
            F.array(*[
                F.pmod(F.xxhash64(F.col("fp"), F.col("fp2"), F.lit(i)), F.lit(m_bits)) for i in range(k)
            ])
        ).alias("probe_i", "pos"),
    ).select(
        "*",
        (F.col("pos") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, cast(pmod(pos, 64) AS INT))").alias("mask"),
    )
    hit = (
        probes.join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "hit",
            F.when(F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")), 1)
            .otherwise(0),
        )
        .groupBy(*batch_fp.columns)
        .agg((F.sum("hit") == F.lit(k)).alias("might_contain"))
    )
    return hit


def corpus_near_index(
    corpus: DataFrame, id_col: str, content_col: str, *, k: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable corpus near-dup index: the LSH band index
    ``(doc, band, bucket)`` plus the shingle-set relation ``(doc, sh)``.

    At 100 TB these are written ONCE at corpus-curation time (both are
    plain narrow DataFrames — write them as parquet tables partitionable
    by band / bucketed by doc) and re-read by every ingest batch; nothing
    here depends on the batch. Callers that persist them to disk get the
    probe below without ever re-scanning the corpus text.
    """
    sets, sigs = minhash_signatures(corpus, id_col, content_col, k=k)
    return band_buckets(sigs), sets


def incremental_near_dups(
    batch: DataFrame,
    corpus_bands: DataFrame,
    corpus_sets: DataFrame,
    id_col: str,
    content_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """(batch id, corpus doc, jaccard) — batch docs that are NEAR-dups of
    the already-curated corpus, via the persisted corpus index.

    The batch-vs-corpus form of MinHash-LSH (`dedup.minhash_lsh_pairs` is
    the self-join form): band the batch's signatures with the same scheme
    the index was built with, equi-join ``(band, bucket)`` against the
    corpus band index — only bucket COLLISIONS shuffle, never all
    batch x corpus pairs — then verify each colliding pair with exact
    Jaccard against only those corpus docs' shingle sets.

    Scale contract: the corpus-derived relations (band index, shingle
    sets) are never broadcast and never collected — they are probe-join
    sides keyed on (band, bucket) / doc. The batch side is the small
    relation; AQE may elect to broadcast IT, which is the right choice.
    Recall is the LSH S-curve: P(candidate) = 1-(1-J^2)^BANDS ~ 1 - 8e-8
    at J >= 0.8 — and verification is exact, so false candidates cost
    only a bounded array intersection.
    """
    batch_sets, batch_sigs = minhash_signatures(batch, id_col, content_col, k=k)
    candidates = (
        band_buckets(batch_sigs).withColumnRenamed("doc", "batch_doc")
        .join(corpus_bands.withColumnRenamed("doc", "corpus_doc"), ["band", "bucket"])
        .select("batch_doc", "corpus_doc")
        .dropDuplicates(["batch_doc", "corpus_doc"])
    )
    return verified_pairs(candidates, batch_sets, corpus_sets, threshold=threshold)


def incremental_novel_near(
    batch: DataFrame,
    known: DataFrame | None,
    id_col: str,
    content_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
    prefilter: bool = True,
    corpus_bands: DataFrame | None = None,
    corpus_sets: DataFrame | None = None,
    known_fp: DataFrame | None = None,
) -> DataFrame:
    """Admit only batch docs that are novel vs the corpus under BOTH
    tiers: not an exact dup (fingerprint anti-join, Bloom-prefiltered)
    and not a NEAR-dup (Jaccard >= threshold on k-gram shingles via the
    corpus LSH band index), deduplicated exact within the batch
    (min-id keeper).

    Pass ``corpus_bands`` / ``corpus_sets`` (from ``corpus_near_index``,
    possibly read back from persisted tables) to skip re-deriving the
    index from ``known``, and ``known_fp`` (the distinct (fp, fp2)
    fingerprint relation) to skip re-scanning the corpus text for the
    exact tier too; at 100 TB the persisted forms are the only sane
    ones — ``known`` may then be None entirely. The exact tier runs
    FIRST so the near probe only signatures the exact-novel survivors."""
    if (corpus_bands is None) != (corpus_sets is None):
        raise ValueError("pass both corpus_bands and corpus_sets, or neither")
    if known is None and (corpus_bands is None or known_fp is None):
        raise ValueError("known=None requires corpus_bands/corpus_sets and known_fp")
    if corpus_bands is None:
        corpus_bands, corpus_sets = corpus_near_index(known, id_col, content_col, k=k)

    # exact_novel feeds both the near probe and the final anti-join;
    # persist so the Bloom + anti-join tier runs once.
    exact_novel = incremental_novel(
        batch, known, id_col, content_col, prefilter=prefilter, known_fp=known_fp
    ).persist()
    near = incremental_near_dups(
        exact_novel, corpus_bands, corpus_sets, id_col, content_col,
        k=k, threshold=threshold,
    )
    near_ids = near.select(F.col("batch_doc").alias(id_col)).distinct()
    return exact_novel.join(near_ids, id_col, "left_anti")


def incremental_novel(
    batch: DataFrame,
    known: DataFrame | None,
    id_col: str,
    content_col: str,
    *,
    prefilter: bool = False,
    m_bits: int = 1 << 20,
    k: int = 5,
    known_fp: DataFrame | None = None,
) -> DataFrame:
    """Rows of ``batch`` whose content is NOT in ``known``, deduplicated
    within the batch (min-id keeper per content). Exact semantics in both
    modes; ``prefilter=True`` routes only the Bloom might-contain subset
    through the anti-join against the corpus fingerprints. Pass
    ``known_fp`` (distinct (fp, fp2), e.g. read back from a persisted
    index) to skip scanning the corpus text entirely."""
    batch_fp = fingerprints(batch, id_col, content_col)
    if known_fp is None:
        known_fp = fingerprints(known, id_col, content_col).select("fp", "fp2").distinct()

    if prefilter:
        bloom = bloom_relation(known_fp, "fp", "fp2", m_bits=m_bits, k=k)
        flagged = bloom_might_contain(batch_fp, bloom, m_bits=m_bits, k=k)
        # Definitely-novel docs skip the corpus join entirely; only the
        # might-contain subset is exact-verified against known_fp.
        maybe = flagged.filter("might_contain").drop("might_contain")
        verified_novel = maybe.join(known_fp, ["fp", "fp2"], "left_anti")
        novel_fp = flagged.filter(~F.col("might_contain")).drop("might_contain").unionByName(
            verified_novel
        )
    else:
        novel_fp = batch_fp.join(known_fp, ["fp", "fp2"], "left_anti")

    keeper = novel_fp.groupBy("fp", "fp2").agg(F.min(id_col).alias(id_col))
    return batch.join(keeper.select(id_col), id_col, "left_semi")
