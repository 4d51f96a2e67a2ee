"""Graph-loop benchmark (round-8 verdict stretch #8): wall-clock for the
iterative graph family — PageRank (5 iterations), label propagation and
frontier BFS (both to convergence) — at two scales.

The graph loops are the only operator family with neither a bench query
nor a slope record: their cost is dominated by per-iteration scheduling
and the ``localCheckpoint`` lineage cut (measured 394 -> 4 Exchange in
round 5), which plan asserts cannot see — only a timed run catches a
lineage-discipline regression (symptom: super-linear per-iteration growth
as the uncut plan re-executes every prior generation).

The edge list is synthesized IN Spark (deterministic xxhash64 endpoints —
no data files, no driver-side generation): ``sf`` scales nodes and edges
(sf0.1 -> 100k nodes / 1M edges, sf0.5 -> 500k / 5M). Label propagation
converges in 12 rounds at sf0.1 and 20 at sf0.5, inside its budget of 30;
BFS's 30-hop budget is far above these graphs' depth. Results + guidance
land in BASELINE.md ("graph-loop bench").

    python tools/graph_bench.py             # sf 0.1 and 0.5
    python tools/graph_bench.py 0.1         # one scale
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.graph import (
    bfs_levels,
    label_propagation,
    pagerank,
)
from data_pipeline_with_spark_kafka_spark.session import get_spark

NODES_PER_SF = 1_000_000  # sf0.1 -> 100k
EDGES_PER_SF = 10_000_000  # sf0.1 -> 1M


def make_edges(spark, sf: float):
    """Deterministic synthetic edge list: endpoints are xxhash64 buckets
    of the row id, so the graph is a pure function of ``sf`` (no files,
    no collect). Skewed-ish in-degree arrives for free from hash
    collisions at the modulus."""
    n_nodes = int(NODES_PER_SF * sf)
    n_edges = int(EDGES_PER_SF * sf)
    return (
        spark.range(n_edges)
        .select(
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_nodes)).alias("src"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(n_nodes)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def run_one(fn) -> float:
    best = float("inf")
    for _ in range(2):  # min-of-2: co-tenant host (bench.py's canon)
        t0 = time.monotonic()
        fn().write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def main() -> None:
    sfs = [float(a) for a in sys.argv[1:]] or [0.1, 0.5]
    spark = get_spark(app_name="graph-bench")
    spark.sparkContext.setLogLevel("ERROR")
    results: list[dict] = []
    for sf in sfs:
        edges = make_edges(spark, sf).localCheckpoint()  # exclude gen cost
        row = {
            "sf": sf,
            "n_edges": edges.count(),
            "pagerank_5it_sec": run_one(lambda: pagerank(edges, iterations=5)),
            "lpa_sec": run_one(lambda: label_propagation(edges, iterations=30)),
            "bfs_sec": run_one(lambda: bfs_levels(edges, 0, max_iterations=30)),
        }
        results.append(row)
        print(json.dumps(row), flush=True)
    print(json.dumps({"metric": "graph_loop_bench", "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
