"""k-NN join (batch top-k neighbors): exact tier invariants + IVF
approximate tier recall, and the plan shapes that keep both scalable."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators import clustering, similarity
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table

K = 10
N_QUERIES = 8


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def exact(emb):
    out = similarity.knn_join_exact(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") < N_QUERIES),
        k=K, query_limit=N_QUERIES,
    )
    return out, out.collect()


def test_exact_matches_numpy(emb, exact):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    nrm = np.linalg.norm(V, axis=1)
    got = {}
    for r in exact[1]:
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cosine))
    assert set(got) == set(range(N_QUERIES))
    for qid in range(N_QUERIES):
        sims = np.round(V @ V[qid] / (nrm * nrm[qid]), 6)
        cand = [(-sims[i], int(ids[i])) for i in range(len(ids)) if ids[i] != qid]
        expect = sorted(cand)[:K]
        have = sorted(got[qid])
        assert len(have) == K
        for (rank, nid, cos), (negs, eid) in zip(have, expect):
            assert nid == eid and cos == pytest.approx(-negs, abs=1e-6)


def test_exact_plan_uses_window_group_limit_and_broadcast_queries(emb):
    """The corpus side must not shuffle for scoring: queries broadcast
    (limit-bounded), and the per-query top-k runs as WindowGroupLimit
    (partial top-k before the one shuffle on query_id). Asserted on a
    FRESH plan: an executed one stringifies Final+Initial AQE sections,
    double-counting every node."""
    out = similarity.knn_join_exact(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") < N_QUERIES),
        k=K, query_limit=N_QUERIES,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastExchange" in plan  # the 8-row query set only
    # the only non-broadcast exchange is the query_id window shuffle
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2, plan


def test_ivf_knn_recall_isotropic_floor(spark, emb, exact):
    """The driver fixture is isotropic-random — the ADVERSARIAL case for
    IVF (true neighbors are barely-similar vectors scattered across
    cells). Probing 3 of 10 cells still must beat the 3/10 random-cell
    baseline, and every returned cosine must equal the exact tier's."""
    rows = clustering.to_centroid_rows(
        clustering.kmeans_verified(emb, "vec_id", "embedding", k=10, iterations=3)
    )
    approx = similarity.knn_join_ivf(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") < N_QUERIES), rows,
        k=K, n_probe=3, query_limit=N_QUERIES,
    ).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact[1]}
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact[1]}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.4, f"IVF knn recall below random-probe floor: {recall:.3f}"
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert r.cosine == exact_cos[(r.query_id, r.neighbor_id)]


def test_ivf_knn_recall_clustered(spark):
    """On cluster-structured data (the geometry IVF is FOR — and what real
    embedding corpora look like), 3-of-8-cell probing keeps >= 0.9 of the
    true top-10."""
    rng = np.random.default_rng(11)
    n, dim, kc = 400, 16, 8
    centroids = rng.normal(0.0, 1.0, size=(kc, dim))
    labels = rng.integers(0, kc, size=n)
    vecs = centroids[labels] + rng.normal(0.0, 0.35, size=(n, dim))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    rows = clustering.to_centroid_rows(
        clustering.kmeans_verified(df, "vec_id", "embedding", k=kc, iterations=3)
    )
    queries = df.filter(F.col("vec_id") < N_QUERIES)
    exact = similarity.knn_join_exact(
        df, "vec_id", "embedding", queries, k=K, query_limit=N_QUERIES
    ).collect()
    approx = similarity.knn_join_ivf(
        df, "vec_id", "embedding", queries, rows, k=K, n_probe=3, query_limit=N_QUERIES
    ).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"IVF knn recall on clustered corpus: {recall:.3f}"


def test_ivf_candidate_set_is_cell_bounded(spark, emb):
    """The IVF join must score only cell collisions — strictly fewer
    scored pairs than the exact tier's queries x corpus fan-out."""
    rows = clustering.to_centroid_rows(
        clustering.kmeans_verified(emb, "vec_id", "embedding", k=10, iterations=3)
    )
    members = clustering.cell_multi_assign(emb, "embedding", rows, n_assign=1, out_col="cell")
    cell_sizes = {r.cell: r.n for r in members.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    n = emb.count()
    # probing 3 cells bounds candidates by the 3 largest cells, < full corpus
    top3 = sum(sorted(cell_sizes.values(), reverse=True)[:3])
    assert top3 < n, (top3, n)
