"""PageRank (operators/graph.py): equality vs the pure-Python reference,
mass conservation, dangling handling, and hub detection on the near-dup
graph query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators import graph

EDGES = [
    (1, 2), (2, 3), (3, 1),          # cycle
    (4, 1), (4, 2),                  # feeder
    (5, 4),                          # chain into feeder
    # node 6: dangling (edge in, none out)
    (3, 6),
]


def pagerank_reference(
    edge_list: list[tuple], *, damping: float = 0.85, iterations: int = 10
) -> dict:
    """Pure-Python reference: same init, dangling handling, and
    update order as the DataFrame loop."""
    edges = sorted(set(edge_list))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    if n == 0:
        return {}
    out: dict = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    ranks = {v: 1.0 / n for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iterations):
        dangling = sum(r for v, r in ranks.items() if v not in out)
        contrib: dict = {v: 0.0 for v in nodes}
        for s, ds in out.items():
            share = ranks[s] / len(ds)
            for d in ds:
                contrib[d] += share
        ranks = {
            v: base + damping * (contrib[v] + dangling / n) for v in nodes
        }
    return ranks


def bfs_reference(edge_list, source, *, directed: bool = True):
    """Pure-Python BFS: {node: level}."""
    from collections import deque

    adj: dict = {}
    for s, d in edge_list:
        adj.setdefault(s, []).append(d)
        if not directed:
            adj.setdefault(d, []).append(s)
    seen = {source: 0}
    q = deque([source])
    while q:
        u = q.popleft()
        for v in adj.get(u, []):
            if v not in seen:
                seen[v] = seen[u] + 1
                q.append(v)
    return seen


def label_propagation_reference(edge_list, iterations: int = 10):
    """Pure-Python mirror of ``graph.label_propagation``."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    nodes = set()
    for s, d in edge_list:
        adj[s].add(d)
        adj[d].add(s)
        nodes.update((s, d))
    labels = {n: n for n in nodes}
    for _ in range(iterations):
        new = {}
        for n in sorted(nodes):
            c = Counter(labels[m] for m in adj[n])
            c[labels[n]] += 1  # self-vote
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            new[n] = best
        if new == labels:
            return new
        labels = new
    return labels


@pytest.fixture(scope="module")
def ranks(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    return {r.node: r.rank for r in graph.pagerank(e, iterations=5).collect()}


def test_matches_pure_python_reference(ranks):
    expect = pagerank_reference(EDGES, iterations=5)
    assert set(ranks) == set(expect)
    for v, r in expect.items():
        assert ranks[v] == pytest.approx(r, abs=1e-9), v


def test_mass_conserved(ranks):
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


def test_cycle_members_outrank_feeder(ranks):
    # the 1-2-3 cycle accumulates rank; the feeder 4 and chain 5 donate it
    assert min(ranks[1], ranks[2], ranks[3]) > ranks[5]


def test_empty_graph(spark):
    e = spark.createDataFrame([], "src long, dst long")
    assert graph.pagerank(e, iterations=3).count() == 0


def test_neardup_graph_query_ranks_template_hub(spark):
    """A hub doc sharing spans with many others must out-rank the
    periphery when ranking the near-dup graph."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [(0, base)]
    # 5 near-copies of the hub (small unique suffix each)
    for i in range(1, 6):
        docs.append((i, base + f" variant {i}"))
    # unrelated docs
    docs += [(10 + i, f"completely different text number {i} with unique words {i * 7}") for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    from data_pipeline_with_spark_kafka_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.5)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    ranks = {r.node: r.rank for r in graph.pagerank(edges, iterations=3).collect()}
    assert ranks, "fixture must produce near-dup edges"
    assert 0 in ranks, "hub doc must appear in the graph"
    # the hub participates in every pair — top rank
    assert ranks[0] == max(ranks.values())


def test_bfs_line_cycle_and_unreachable(spark):
    """One run covers level assignment, cycle termination and
    unreachable-node absence (each BFS invocation pays per-level
    codegen, so scenarios share a graph)."""
    from data_pipeline_with_spark_kafka_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        # line 1-2-3-4, a back-edge closing a cycle, and an island.
        [(1, 2), (2, 3), (3, 4), (4, 1), (9, 10)], ["src", "dst"]
    )
    got = {r.node: r.level for r in bfs_levels(edges, 1).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # cycle terminates; 9/10 absent


def test_bfs_undirected_reaches_backwards(spark):
    from data_pipeline_with_spark_kafka_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame([(2, 1), (2, 3)], ["src", "dst"])
    directed = {r.node: r.level for r in bfs_levels(edges, 1).collect()}
    undirected = {
        r.node: r.level
        for r in bfs_levels(edges, 1, directed=False).collect()
    }
    assert directed == {1: 0}
    assert undirected == {1: 0, 2: 1, 3: 2}


def test_bfs_matches_python_reference_on_random_graph(spark):
    import random

    from data_pipeline_with_spark_kafka_spark.operators.graph import bfs_levels

    rng = random.Random(7)
    edge_list = [(rng.randrange(30), rng.randrange(30)) for _ in range(80)]
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {r.node: r.level for r in bfs_levels(edges, 0).collect()}
    assert got == bfs_reference(edge_list, 0)


def test_iterative_generations_keep_linear_plans(spark):
    """Lineage-discipline guard: after N iterations the result's LOGICAL
    plan must stay small (each generation is checkpointed to a leaf).
    Without the cut, a twice-referenced previous generation doubles the
    plan per iteration — ~2^N subtrees — and this assertion explodes
    long before wall-clock does."""
    from data_pipeline_with_spark_kafka_spark.operators.dedup import (
        connected_components,
    )
    from data_pipeline_with_spark_kafka_spark.operators.graph import (
        bfs_levels,
        pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)], ["src", "dst"]
    )
    pr = pagerank(edges, iterations=8)
    assert len(pr._jdf.queryExecution().logical().toString()) < 20_000

    bfs = bfs_levels(edges, 1)
    assert len(bfs._jdf.queryExecution().logical().toString()) < 20_000

    pair_edges = edges.selectExpr("src as doc_a", "dst as doc_b")
    ids = spark.range(1, 8).selectExpr("id as doc")
    cc = connected_components(pair_edges, ids, "doc")
    assert len(cc._jdf.queryExecution().logical().toString()) < 20_000


class TestLabelPropagation:
    def _run(self, spark, edge_list, iterations=10):
        df = spark.createDataFrame(edge_list, "src long, dst long")
        got = {
            r["node"]: r["label"]
            for r in graph.label_propagation(df, iterations=iterations).collect()
        }
        want = label_propagation_reference(edge_list, iterations=iterations)
        return got, want

    def test_matches_python_reference_two_cliques_with_bridge(self, spark):
        clique1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        clique2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        edges = clique1 + clique2 + [(3, 10)]
        got, want = self._run(spark, edges)
        assert got == want
        # the two cliques end up in different communities
        assert len({got[n] for n in range(3)} | {got[n] for n in range(11, 14)}) == 2

    def test_matches_python_reference_on_random_graph(self, spark):
        import random

        rng = random.Random(7)
        edges = list({(rng.randrange(20), rng.randrange(20)) for _ in range(40)})
        edges = [(s, d) for s, d in edges if s != d]
        got, want = self._run(spark, edges)
        assert got == want

    def test_isolated_pair_and_empty(self, spark):
        got, want = self._run(spark, [(1, 2)])
        assert got == want == {1: 1, 2: 1}
        empty = spark.createDataFrame([], "src long, dst long")
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        assert graph.label_propagation(empty).count() == 0
        # The early-return path must unpersist BOTH cached relations: no
        # NEW persistent RDD may remain. Subset (not equality) because
        # the async ContextCleaner may GC unrelated caches between the
        # two snapshots (observed once under co-tenant load).
        after = set(jsc.getPersistentRDDs().keySet().toArray())
        assert after <= before

    def test_early_stop_converged(self, spark):
        # a triangle converges in <= 2 iterations; asking for 50 must not
        # run 50 generations (early-stop on changed == 0)
        df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
        got = {r["node"]: r["label"] for r in graph.label_propagation(df, iterations=50).collect()}
        assert got == {1: 1, 2: 1, 3: 1}
