"""Measure the dedup/ANN scale curve (round-3 verdict item 5).

Runs the four near-dup tiers at three corpus sizes — the driver's sf0.1
(5k docs / 2k vecs) plus the generated sf0.5 / sf1.0 fixtures
(tools/gen_scale_fixtures.py) — and fits the log-log slope of wall time
vs corpus rows. A banded/blocked tier should come out ~linear in corpus
size (slope ~1) once past fixed overheads; the exact all-shared-shingle
tier is allowed to grow with its candidate-pair count but no faster.

    python tools/scale_curve.py                      # default tier set
    python tools/scale_curve.py llm_dedup_simhash .. # explicit tiers

Timing protocol matches bench.py: noop sink (full computation, no
collect), min of 2 runs, cache cleared between runs.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_with_spark_kafka_spark.queries import all_queries
from data_pipeline_with_spark_kafka_spark.session import get_spark

TIERS = [
    "llm_dedup_ngram_jaccard",
    "llm_dedup_minhash_lsh",
    "llm_dedup_simhash",
    "llm_dedup_embedding_cosine",
]

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALES = [
    ("sf0.1", "/root/testdata/sf0.1", 5_000),
    ("sf0.5", os.path.join(REPO, "fixtures", "scale", "sf0.5"), 25_000),
    ("sf1", os.path.join(REPO, "fixtures", "scale", "sf1"), 50_000),
]


def _ivf_sparse_builder(spark, sf_dir):
    """IVF-blocked embedding near-dup in its SPARSE-OUTPUT regime — the
    regime the 100-TB dedup story actually lives in (find the ~2% planted
    near-identical tail, not every loosely-similar pair).

    The registered query (`llm_dedup_embedding_cosine_ivf`) pins
    threshold=0.4 / k=10 for comparability with the label-blocked tiers,
    but at 0.4 on the cluster-structured fixtures the ANSWER is Theta(n^2)
    (every within-cluster pair qualifies), so no enumeration can beat
    slope 2 there. Here threshold=0.95 keeps only the planted dup tail
    (cosine > 0.99; within-cluster background ~0.89) and k grows with the
    corpus (k ~ n/1000, bounding expected cell size) — candidate pairs
    ~ n^2/k ~ linear in n, which is the scaling the blocking buys."""
    from data_pipeline_with_spark_kafka_spark.operators import clustering, dedup
    from data_pipeline_with_spark_kafka_spark.sources.tables import load_table, table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")
    k = max(10, n // 1000)
    rows = clustering.to_centroid_rows(
        clustering.kmeans_verified(emb, "vec_id", "embedding", k=k, iterations=3)
    )
    return dedup.embedding_near_dup_pairs_ivf(
        emb, "vec_id", "embedding",
        centroid_rows=rows, n_assign=2, threshold=0.95, guard=n > 4096,
    )


CUSTOM_TIERS = {"ivf_sparse_0.95": _ivf_sparse_builder}


def main() -> None:
    tiers = sys.argv[1:] or TIERS
    spark = get_spark("scale-curve")
    queries = all_queries()

    def run_once(name: str, sf_dir: str) -> float:
        if name in CUSTOM_TIERS:
            df = CUSTOM_TIERS[name](spark, sf_dir)
        else:
            df = queries[name].builder(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - t0
        spark.catalog.clearCache()
        return elapsed

    # Warm-up: one full pass so no tier pays one-time JIT/codegen costs.
    for name in tiers:
        run_once(name, SCALES[0][1])

    results = {}
    for name in tiers:
        points = []
        for label, sf_dir, n_docs in SCALES:
            best = min(run_once(name, sf_dir), run_once(name, sf_dir))
            points.append((label, n_docs, round(best, 3)))
            print(json.dumps({"tier": name, "scale": label, "sec": round(best, 3)}), flush=True)
        # Least-squares slope of log(time) vs log(rows) over the 3 points.
        xs = [math.log(n) for _, n, _ in points]
        ys = [math.log(t) for _, _, t in points]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        results[name] = {
            "times": {label: t for label, _, t in points},
            "slope": round(slope, 3),
        }
        print(json.dumps({"tier": name, **results[name]}))
    spark.stop()


if __name__ == "__main__":
    main()
