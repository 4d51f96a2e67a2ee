"""Materialize the IVF coarse quantizer as a committed parquet fixture.

At 100 TB the coarse quantizer is an OFFLINE artifact: trained once on a
sample, versioned, and handed to every search/dedup query — never
retrained inside a query. This tool is that offline training step for the
test corpus: it runs the package's one Lloyd's k-means
(``operators/clustering.kmeans_verified``) over the sf0.01 embeddings and
writes the (cid, centroid) table to ``fixtures/``, where both the
registered IVF queries AND their DuckDB oracles read it (the oracle
mirrors cell assignment + exact cosine rerank in SQL once the centroids
are a shared literal relation — see queries/llm_fast_paths.py).

The committed ``ivf_centroids_k8|k10.parquet`` predate this trainer and
hold unrounded centroids. A rerun writes 6-dp centroids, so it changes
the fixtures and every IVF oracle result pinned on them. Rerun only to
re-baseline those queries on purpose:
    python tools/gen_centroid_fixture.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TRAIN_SF_DIR = "/root/testdata/sf0.01"
SPECS = [
    # (fixture name, k, iterations) — seeds fixed at 42 (the trainer default)
    ("ivf_centroids_k10", 10, 3),  # near-dup + knn-join quantizer
    ("ivf_centroids_k8", 8, 2),    # sim-topk quantizer
]


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_with_spark_kafka_spark.operators.clustering import (
        kmeans_verified,
        to_centroid_rows,
    )
    from data_pipeline_with_spark_kafka_spark.session import get_spark
    from data_pipeline_with_spark_kafka_spark.sources.tables import load_table

    spark = get_spark("gen-centroid-fixture")
    emb = load_table(spark, TRAIN_SF_DIR, "embeddings")
    os.makedirs(os.path.join(REPO, "fixtures"), exist_ok=True)
    for name, k, iterations in SPECS:
        rows = to_centroid_rows(
            kmeans_verified(emb, "vec_id", "embedding", k=k, iterations=iterations, seed=42)
        )
        table = pa.table(
            {
                "cid": pa.array([c for c, _ in rows], pa.int32()),
                "centroid": pa.array([v for _, v in rows], pa.list_(pa.float64())),
            }
        )
        out = os.path.join(REPO, "fixtures", f"{name}.parquet")
        pq.write_table(table, out)
        print(f"{out}: k={k} iterations={iterations} dim={len(rows[0][1])}")
    spark.stop()


if __name__ == "__main__":
    main()
