"""IVF-cell-blocked embedding near-dup (the learned-blocking scale tier).

The label-blocked tiers assume a block column the data hands you; real
corpora don't have one, so the IVF tier derives it (k-means cells,
multi-assign). Tested on a synthetic CLUSTER-STRUCTURED corpus (the
geometry the blocking exploits — the driver's sf embeddings are
isotropic-random, where no sublinear blocking can separate a 0.4-cosine
tail from noise): recall vs the exact label-blocked tier, exactness of
reported cosines, and the plan shapes that matter at 100 TB (zero-shuffle
assignment, no corpus broadcast).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators import clustering, dedup

N = 400
DIM = 16
K_CLUSTERS = 8
THRESHOLD = 0.4


@pytest.fixture(scope="module")
def clustered(spark):
    """8 Gaussian clusters + a 5% near-dup tail (gen_scale_fixtures.py
    recipe at toy size): within-cluster cosine ~0.9, cross ~0."""
    rng = np.random.default_rng(7)
    centroids = rng.normal(0.0, 1.0, size=(K_CLUSTERS, DIM))
    labels = rng.integers(0, K_CLUSTERS, size=N)
    vecs = centroids[labels] + rng.normal(0.0, 0.35, size=(N, DIM))
    n_dup = N // 20
    src = rng.integers(0, N - n_dup, size=n_dup)
    vecs[N - n_dup :] = vecs[src] + rng.normal(0.0, 0.005, size=(n_dup, DIM))
    labels[N - n_dup :] = labels[src]
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]], int(labels[i])) for i in range(N)],
        "vec_id long, embedding array<double>, label int",
    )
    return df, vecs, labels


def _truth_pairs(vecs: np.ndarray, labels: np.ndarray, same_label_only: bool) -> set:
    nrm = np.linalg.norm(vecs, axis=1)
    sims = (vecs @ vecs.T) / np.outer(nrm, nrm)
    iu, ju = np.triu_indices(len(vecs), k=1)
    keep = np.round(sims[iu, ju], 4) >= THRESHOLD
    if same_label_only:
        keep &= labels[iu] == labels[ju]
    return set(zip(iu[keep].tolist(), ju[keep].tolist()))


@pytest.fixture(scope="module")
def ivf_result(clustered):
    df, _, _ = clustered
    rows = clustering.to_centroid_rows(
        clustering.kmeans_verified(df, "vec_id", "embedding", k=K_CLUSTERS, iterations=3)
    )
    out = dedup.embedding_near_dup_pairs_ivf(
        df, "vec_id", "embedding",
        centroid_rows=rows, n_assign=2, threshold=THRESHOLD, guard=False,
    )
    return rows, out, {(r.vec_a, r.vec_b): r.cosine for r in out.collect()}


def test_recall_vs_label_blocked_exact_tier(clustered, ivf_result):
    """>= 0.95 of the label-blocked exact tier's pairs survive learned
    blocking (the verdict's gate for making IVF the scale default)."""
    _, vecs, labels = clustered
    truth = _truth_pairs(vecs, labels, same_label_only=True)
    assert len(truth) >= 50, "fixture must contain a real near-dup population"
    found = set(ivf_result[2])
    recall = len(truth & found) / len(truth)
    assert recall >= 0.95, f"IVF recall {recall:.3f} ({len(truth & found)}/{len(truth)})"


def test_no_false_positives_and_exact_cosines(clustered, ivf_result):
    """Blocking only restricts WHICH pairs are scored — every reported
    pair must be a genuine >= threshold pair with the exact cosine."""
    _, vecs, labels = clustered
    all_true = _truth_pairs(vecs, labels, same_label_only=False)
    nrm = np.linalg.norm(vecs, axis=1)
    for (a, b), cos in ivf_result[2].items():
        assert (a, b) in all_true, f"false positive pair {(a, b)}"
        exact = float(vecs[a] @ vecs[b] / (nrm[a] * nrm[b]))
        assert cos == pytest.approx(exact, abs=2e-4)


def test_pairs_deduped_across_shared_cells(ivf_result):
    """n_assign=2 puts a vector in two cells; a pair sharing both cells is
    discovered twice and must surface once."""
    _, out, collected = ivf_result
    assert out.count() == len(collected)


def test_assignment_is_shuffle_free(clustered, ivf_result):
    """Centroids ship as literals: cell assignment adds ZERO Exchange —
    the property that makes blocking free at 100 TB."""
    df, _, _ = clustered
    assigned = clustering.cell_multi_assign(
        df, "embedding", ivf_result[0], n_assign=2, out_col="cell"
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_corpus_never_broadcast(ivf_result):
    """The fact side is sf-proportional: no BroadcastExchange anywhere in
    the pair plan (centroids are expression literals, not even a join)."""
    _, out, _ = ivf_result
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan


def test_multi_assign_explodes_to_n_copies(clustered, ivf_result):
    df, _, _ = clustered
    assigned = clustering.cell_multi_assign(
        df, "embedding", ivf_result[0], n_assign=2, out_col="cell"
    )
    assert assigned.count() == 2 * N
    # each copy lands in a distinct cell
    assert assigned.select("vec_id", "cell").distinct().count() == 2 * N


def test_dense_cell_takes_triangle_guard(clustered, ivf_result):
    """guard=True must not change the result set (every unordered pair
    still scored exactly once) even when cells exceed max_block."""
    df, _, _ = clustered
    guarded = dedup.embedding_near_dup_pairs_ivf(
        df, "vec_id", "embedding",
        centroid_rows=ivf_result[0], n_assign=2, threshold=THRESHOLD,
        max_block=64, guard=True,
    )
    got = {(r.vec_a, r.vec_b): r.cosine for r in guarded.collect()}
    assert got == ivf_result[2]
