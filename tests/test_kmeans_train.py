"""kmeans_verified (the oracle-able Lloyd's twin) pinned against an
independent pure-Python mirror: same xxhash64-seeded init (via the
tools/xxh64_ref.py reference, itself pinned against Spark), sequential
per-dim distance folds in Spark's F.aggregate order, per-iteration 6dp
half-away-from-zero quantization, empty-cluster carry-forward. The
mirror shares no code with the operator, so agreement pins the
semantics, not the implementation."""

from __future__ import annotations

import math

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.clustering import kmeans_verified
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table
from tools.xxh64_ref import spark_xxhash64

K, ITERS, SEED = 8, 5, 42


def _rnd6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def _python_lloyd(sf_dir: str) -> list[tuple[int, int, float, int]]:
    tb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = [int(i) for i in tb["vec_id"]]
    vecs = [np.asarray(v, dtype=np.float32).astype(np.float64) for v in tb["embedding"]]
    if not ids:
        return []
    hs = {i: spark_xxhash64(("long", i), ("int", SEED)) for i in ids}
    order = sorted(range(len(ids)), key=lambda j: (hs[ids[j]], ids[j]))[:K]
    cents = [[_rnd6(float(x)) for x in vecs[j]] for j in order]
    dim = len(cents[0])
    counts = {c: 0 for c in range(1, len(cents) + 1)}
    for _ in range(ITERS):
        sums = {c: [0.0] * dim for c in range(1, len(cents) + 1)}
        counts = {c: 0 for c in range(1, len(cents) + 1)}
        for v in vecs:
            best = None
            for j, c in enumerate(cents):
                acc = 0.0  # sequential fold, Spark's F.aggregate order
                for p in range(dim):
                    d = float(v[p]) - c[p]
                    acc = acc + d * d
                if best is None or (acc, j + 1) < best:
                    best = (acc, j + 1)
            cid = best[1]
            counts[cid] += 1
            for p in range(dim):
                sums[cid][p] += float(v[p])
        cents = [
            [
                _rnd6(sums[j + 1][p] / counts[j + 1]) if counts[j + 1] else cents[j][p]
                for p in range(dim)
            ]
            for j in range(len(cents))
        ]
    return [
        (j + 1, p, cents[j][p], counts[j + 1])
        for j in range(len(cents))
        for p in range(dim)
    ]


def test_kmeans_verified_matches_python_mirror(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = kmeans_verified(emb, "vec_id", "embedding", k=K, iterations=ITERS, seed=SEED)
    exp = _python_lloyd(sf_dir)
    assert len(got) == len(exp) == K * 64
    # Mean partial-aggregation order differs between Spark and the
    # sequential mirror at ~1e-15 relative; the 6dp quantization is the
    # documented collapse point — so rounded values must agree EXACTLY.
    assert sorted(got) == sorted(exp)


def test_kmeans_verified_empty_input(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert kmeans_verified(emb, "vec_id", "embedding", k=K, iterations=2) == []


def test_kmeans_verified_fewer_rows_than_k(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(3)
    rows = kmeans_verified(emb, "vec_id", "embedding", k=K, iterations=2)
    cids = {r[0] for r in rows}
    assert len(cids) == 3  # k_eff = n when n < k
    assert sum(1 for r in rows if r[1] == 0 and r[3] > 0) >= 1


@pytest.mark.parametrize("it", [1, 3])
def test_kmeans_verified_iteration_count_changes_result_shape_only(spark, sf_dir, it):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = kmeans_verified(emb, "vec_id", "embedding", k=4, iterations=it, seed=7)
    assert len(rows) == 4 * 64
    assert sum(r[3] for r in rows) // 64 == emb.count()


def test_kmv_estimate_tracks_exact_distinct(spark, sf_dir):
    """KMV quality property: each scope's estimate within ~4/sqrt(k) of
    the exact distinct count once the sketch saturates (n >= k). The
    value itself is hash-verified against DuckDB; this pins that the
    estimator is a sane ESTIMATOR, not just cross-engine-deterministic."""
    import math

    from data_pipeline_with_spark_kafka_spark.queries.stats_extra import (
        _KMV_K,
        agg_kmv_distinct,
    )

    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["d"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("d"))
        .collect()
    }
    exact["__all__"] = li.select("l_partkey").distinct().count()
    tol = 4.0 / math.sqrt(_KMV_K)
    for r in agg_kmv_distinct(spark, sf_dir).collect():
        ex = exact[r["scope"]]
        if r["sketch_size"] < _KMV_K:
            assert r["sketch_size"] == ex  # unsaturated sketch is exact
        else:
            assert abs(r["kmv_distinct_est"] - ex) / ex <= tol, (r, ex)


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_kmeans_verified_leaves_no_cache_entry(spark, sf_dir, monkeypatch, distributed_tier):
    """The distributed Lloyd loop iterates over a local checkpoint, not a
    persisted frame: the session's CacheManager stays empty after a
    normal return and after a raise in the middle of the loop."""
    with distributed_tier():
        _assert_no_cache_entry(spark, sf_dir, monkeypatch)


def _assert_no_cache_entry(spark, sf_dir, monkeypatch):
    from data_pipeline_with_spark_kafka_spark.operators import clustering

    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    rows = kmeans_verified(emb, "vec_id", "embedding", k=3, iterations=2, seed=11)
    assert len(rows) == 3 * 64
    assert _cache_is_empty(spark)

    calls = []
    assign = clustering.cell_multi_assign

    def failing_second_assign(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("assignment failed")
        return assign(*args, **kwargs)

    monkeypatch.setattr(clustering, "cell_multi_assign", failing_second_assign)
    with pytest.raises(RuntimeError, match="assignment failed"):
        kmeans_verified(emb, "vec_id", "embedding", k=3, iterations=3, seed=12)
    assert len(calls) == 2
    assert _cache_is_empty(spark)


@pytest.mark.parametrize("k,seed", [(8, 42), (4, 7), (10, 7)])
def test_kmeans_tiers_agree_exactly(spark, sf_dir, distributed_tier, monkeypatch, k, seed):
    """The numpy driver tier and the distributed tier return the same
    6-dp rows. Counting ``cell_multi_assign`` calls shows which tier ran:
    the driver tier never builds the literal-centroid scan."""
    from data_pipeline_with_spark_kafka_spark.operators import clustering
    from data_pipeline_with_spark_kafka_spark.sources import memo

    memo.clear(spark)  # an earlier test's model would hide the tier
    calls = []
    assign = clustering.cell_multi_assign

    def counted(*args, **kwargs):
        calls.append(1)
        return assign(*args, **kwargs)

    monkeypatch.setattr(clustering, "cell_multi_assign", counted)
    emb = load_table(spark, sf_dir, "embeddings")
    driver = kmeans_verified(emb, "vec_id", "embedding", k=k, iterations=ITERS, seed=seed)
    assert not calls
    with distributed_tier():
        distributed = kmeans_verified(emb, "vec_id", "embedding", k=k, iterations=ITERS, seed=seed)
    assert len(calls) == ITERS
    assert driver == distributed
