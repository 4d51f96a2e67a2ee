"""Bloom join-pruning contracts (operators/runtime_filter):

- lossless: the pruned inner join is row-for-row the plain join (the
  registered query's oracle re-proves this as a value hash every run);
- no false negatives: every fact row with a joining key survives;
- map-side: the prune is one codegen Filter over the fact scan, with
  ZERO exchanges — the bounded bloom build runs as its own job;
- edge shapes: NULL fact keys, empty dim, outer-join refusal.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.runtime_filter import (
    bloom_literal_column,
    bloom_prune_literal,
    bloom_pruned_join,
    bloom_relation,
    bloom_words,
)
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table


def _fixture(spark, sf_dir):
    fact = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate")
    )
    return fact, dim


def test_pruned_join_equals_plain_join(spark, sf_dir):
    fact, dim = _fixture(spark, sf_dir)
    got = bloom_pruned_join(fact, dim, "l_orderkey", "o_orderkey").select(
        "l_orderkey", "l_extendedprice", "o_orderdate"
    )
    want = fact.join(dim, fact["l_orderkey"] == dim["o_orderkey"]).select(
        "l_orderkey", "l_extendedprice", "o_orderdate"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_no_false_negatives_and_prune_bites(spark, sf_dir):
    fact, dim = _fixture(spark, sf_dir)
    pruned = bloom_prune_literal(
        fact, "l_orderkey", bloom_literal_column(bloom_words(dim, "o_orderkey"))
    )
    joiners = fact.join(
        dim, fact["l_orderkey"] == dim["o_orderkey"], "left_semi"
    ).count()
    n_fact, n_pruned = fact.count(), pruned.count()
    assert n_pruned >= joiners  # lossless
    assert n_pruned < n_fact  # the selective dim actually prunes
    # FPR contract at this (n, m=2^18, k=5): essentially zero; 5% is the
    # generous bound that still proves the bit tests work.
    non_joiners = n_fact - joiners
    assert (n_pruned - joiners) <= max(1, int(0.05 * non_joiners))


def test_literal_tier_plan_is_pure_filter(spark, sf_dir):
    """The embedded literal leaves a plan with ZERO exchanges and no
    subquery — one codegen Filter over the scan."""
    fact, dim = _fixture(spark, sf_dir)
    spark.catalog.clearCache()
    words = bloom_literal_column(bloom_words(dim, "o_orderkey"))
    pruned = bloom_prune_literal(fact, "l_orderkey", words)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan
    assert "Subquery" not in plan


def test_null_fact_keys_inner_join_exact(spark):
    fact = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c"), (None, "d"), (7, "e")],
        "k bigint, v string",
    )
    dim = spark.createDataFrame([(1, "x"), (3, "y")], "dk bigint, w string")
    got = bloom_pruned_join(fact, dim, "k", "dk").select("k", "v", "w")
    want = fact.join(dim, fact["k"] == dim["dk"]).select("k", "v", "w")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_empty_dim_prunes_everything(spark, sf_dir):
    fact, dim = _fixture(spark, sf_dir)
    empty = dim.filter(F.lit(False))
    # absent words densify to 0 -> every bit test is false -> all rows
    # dropped: definitely-absent semantics.
    words = bloom_literal_column(bloom_words(empty, "o_orderkey"))
    assert bloom_prune_literal(fact, "l_orderkey", words).count() == 0
    assert bloom_pruned_join(fact, empty, "l_orderkey", "o_orderkey").count() == 0


def test_outer_join_refused(spark, sf_dir):
    fact, dim = _fixture(spark, sf_dir)
    with pytest.raises(ValueError, match="inner/semi"):
        bloom_pruned_join(fact, dim, "l_orderkey", "o_orderkey", how="left")


def test_semi_join_supported(spark, sf_dir):
    fact, dim = _fixture(spark, sf_dir)
    got = bloom_pruned_join(fact, dim, "l_orderkey", "o_orderkey", how="left_semi")
    want = fact.join(dim, fact["l_orderkey"] == dim["o_orderkey"], "left_semi")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_m_bits_must_be_word_aligned(spark, sf_dir):
    _, dim = _fixture(spark, sf_dir)
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_relation(dim, "o_orderkey", m_bits=100)
