"""Incremental dedup: Bloom-relation properties (bounded size, no false
negatives) and prefilter==exact equivalence on the fixture corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.incremental import (
    bloom_might_contain,
    fingerprints,
    incremental_novel,
)
from data_pipeline_with_spark_kafka_spark.operators.runtime_filter import bloom_relation
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table


def split_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    half = docs.agg(F.floor(F.max("doc_id") / 2).cast("long").alias("half"))
    both = docs.crossJoin(F.broadcast(half))
    return (
        both.filter(F.col("doc_id") >= F.col("half")).drop("half"),
        both.filter(F.col("doc_id") < F.col("half")).drop("half"),
    )


def test_bloom_relation_is_bounded_by_m_bits(spark, sf_dir):
    _, known = split_docs(spark, sf_dir)
    m_bits = 1 << 12
    bloom = bloom_relation(fingerprints(known, "doc_id", "text"), "fp", "fp2", m_bits=m_bits)
    n = bloom.count()
    assert n <= m_bits // 64
    # every mask word is within range
    assert bloom.filter((F.col("word") < 0) | (F.col("word") >= m_bits // 64)).count() == 0


def test_bloom_has_no_false_negatives(spark, sf_dir):
    """Every fingerprint that was inserted must report might_contain=true
    when probed — the Bloom guarantee the exactness proof rests on."""
    _, known = split_docs(spark, sf_dir)
    kfp = fingerprints(known, "doc_id", "text")
    bloom = bloom_relation(kfp, "fp", "fp2", m_bits=1 << 16)
    probed = bloom_might_contain(kfp, bloom, m_bits=1 << 16)
    assert probed.filter(~F.col("might_contain")).count() == 0


def test_prefilter_equals_exact(spark, sf_dir):
    batch, known = split_docs(spark, sf_dir)
    exact = incremental_novel(batch, known, "doc_id", "text", prefilter=False)
    fast = incremental_novel(batch, known, "doc_id", "text", prefilter=True)
    a = sorted(r.doc_id for r in exact.select("doc_id").collect())
    b = sorted(r.doc_id for r in fast.select("doc_id").collect())
    assert a == b and len(a) > 0


def test_prefilter_equals_exact_under_tiny_bloom(spark, sf_dir):
    """A deliberately saturated Bloom (256 bits) forces near-100% false
    positives — the result must STILL be exact, just without the skip."""
    batch, known = split_docs(spark, sf_dir)
    exact = incremental_novel(batch, known, "doc_id", "text", prefilter=False)
    fast = incremental_novel(batch, known, "doc_id", "text", prefilter=True, m_bits=256, k=2)
    assert sorted(r.doc_id for r in exact.select("doc_id").collect()) == sorted(
        r.doc_id for r in fast.select("doc_id").collect()
    )


def test_rejects_unaligned_m_bits(spark, sf_dir):
    _, known = split_docs(spark, sf_dir)
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_relation(fingerprints(known, "doc_id", "text"), "fp", "fp2", m_bits=100)


def _exact_batch_vs_corpus_near_dups(spark, batch, known, threshold=0.8):
    """Ground truth: exhaustive batch-vs-corpus 3-gram Jaccard (no LSH) —
    the naive inverted-index join the band index must not lose pairs from."""
    from data_pipeline_with_spark_kafka_spark.operators.text import shingles, tokens

    def sh_rel(df, name):
        return (
            df.select(
                F.col("doc_id").alias(name),
                F.array_distinct(
                    F.transform(shingles(tokens(F.col("text")), 3), lambda s: F.xxhash64(s))
                ).alias(f"sh_{name}"),
            )
            .filter(F.size(f"sh_{name}") > 0)
        )

    b, c = sh_rel(batch, "bdoc"), sh_rel(known, "kdoc")
    pairs = b.crossJoin(c)  # fixture-sized ground truth only
    inter = F.size(F.array_intersect("sh_bdoc", "sh_kdoc"))
    union = F.size("sh_bdoc") + F.size("sh_kdoc") - inter
    return (
        pairs.withColumn("j", inter / union)
        .filter(F.round("j", 4) >= threshold)
        .select("bdoc", "kdoc")
    )


def test_near_probe_recall_vs_exact(spark, sf_dir):
    """Every exhaustive-Jaccard near-dup pair must be found by the band
    probe (S-curve miss probability ~8e-8 at J>=0.8 — a miss here is a
    bug, not bad luck)."""
    from data_pipeline_with_spark_kafka_spark.operators.incremental import (
        corpus_near_index,
        incremental_near_dups,
    )

    batch, known = split_docs(spark, sf_dir)
    bands, sets = corpus_near_index(known, "doc_id", "text")
    got = {
        (r.batch_doc, r.corpus_doc)
        for r in incremental_near_dups(batch, bands, sets, "doc_id", "text").collect()
    }
    want = {(r.bdoc, r.kdoc) for r in _exact_batch_vs_corpus_near_dups(spark, batch, known).collect()}
    assert want, "fixture must contain at least one batch-vs-corpus near-dup"
    assert want == got


def test_near_probe_against_persisted_index(spark, sf_dir, tmp_path):
    """The corpus index round-trips through parquet: probing the re-read
    tables gives the identical result — the 100-TB deployment shape, where
    the index is a persisted artifact and the corpus text is never
    re-scanned at ingest time."""
    from data_pipeline_with_spark_kafka_spark.operators.incremental import (
        corpus_near_index,
        incremental_near_dups,
    )

    batch, known = split_docs(spark, sf_dir)
    bands, sets = corpus_near_index(known, "doc_id", "text")
    bands.write.parquet(str(tmp_path / "bands"))
    sets.write.parquet(str(tmp_path / "sets"))
    live = incremental_near_dups(batch, bands, sets, "doc_id", "text")
    persisted = incremental_near_dups(
        batch,
        spark.read.parquet(str(tmp_path / "bands")),
        spark.read.parquet(str(tmp_path / "sets")),
        "doc_id",
        "text",
    )
    assert sorted(map(tuple, live.collect())) == sorted(map(tuple, persisted.collect()))


def test_near_novel_composes_exact_and_near(spark, sf_dir):
    """incremental_novel_near == exact-novel minus near-dup batch ids, and
    passing a prebuilt index is identical to deriving it from `known`."""
    from data_pipeline_with_spark_kafka_spark.operators.incremental import (
        corpus_near_index,
        incremental_near_dups,
        incremental_novel_near,
    )

    batch, known = split_docs(spark, sf_dir)
    exact = incremental_novel(batch, known, "doc_id", "text")
    bands, sets = corpus_near_index(known, "doc_id", "text")
    near_ids = {
        r.batch_doc for r in incremental_near_dups(exact, bands, sets, "doc_id", "text").collect()
    }
    want = sorted(r.doc_id for r in exact.collect() if r.doc_id not in near_ids)
    got = sorted(r.doc_id for r in incremental_novel_near(batch, known, "doc_id", "text").collect())
    got_prebuilt = sorted(
        r.doc_id
        for r in incremental_novel_near(
            batch, known, "doc_id", "text", corpus_bands=bands, corpus_sets=sets
        ).collect()
    )
    assert got == want == got_prebuilt
    assert len(near_ids) > 0, "fixture must exercise the near tier"
    with pytest.raises(ValueError, match="both"):
        incremental_novel_near(batch, known, "doc_id", "text", corpus_bands=bands)


def test_near_probe_corpus_side_never_broadcast_by_hint(spark, sf_dir):
    """Scale discipline: no broadcast HINT may reach any corpus-derived
    relation in the near probe (the corpus scales with the 100-TB corpus;
    a hint there is an OOM by construction). The analyzed logical plan of
    the probe must contain zero ResolvedHint nodes; runtime AQE broadcasts
    of the BATCH side remain legal. (The split is taken with a literal
    midpoint here: split_docs' 1-row scalar broadcast is itself a legal
    hint that would muddy the zero-hint assertion.)"""
    from data_pipeline_with_spark_kafka_spark.operators.incremental import (
        corpus_near_index,
        incremental_near_dups,
    )

    docs = load_table(spark, sf_dir, "documents")
    half = docs.agg(F.floor(F.max("doc_id") / 2).cast("long")).collect()[0][0]
    batch = docs.filter(F.col("doc_id") >= half)
    known = docs.filter(F.col("doc_id") < half)
    bands, sets = corpus_near_index(known, "doc_id", "text")
    probe = incremental_near_dups(batch, bands, sets, "doc_id", "text")
    analyzed = probe._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_bloom_probe_side_is_broadcast(spark, sf_dir):
    """Plan discipline: the bloom relation joins as a broadcast (bounded by
    m_bits), never a shuffle of the batch against it."""
    batch, known = split_docs(spark, sf_dir)
    novel = incremental_novel(batch, known, "doc_id", "text", prefilter=True)
    plan = novel._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
