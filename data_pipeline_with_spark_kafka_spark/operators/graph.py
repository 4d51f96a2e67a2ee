"""PageRank, BFS and label propagation over DataFrame edge lists — the
graph members of the iterative-algorithm family (connected components,
k-means and BPE are the others). Each generation is bounded DataFrame
algebra; the loop itself (lineage cut, convergence count, non-convergence
error, cache release) is the shared driver in operators/iterate.py.

Training-data use: centrality over the near-dup similarity graph surfaces
TEMPLATE HUBS — documents whose text is stitched from spans shared with
many other documents rank high even when every individual pair sits below
the dedup threshold.

Scale shape per iteration: one join of the edge list with the rank
relation on src (shuffle keyed by node id), one groupBy dst (same key
family), one broadcast of two 1-row scalars (dangling mass, node count).
The edge list never self-joins and nothing corpus-sized reaches the
driver.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.iterate import changed, iterate
from data_pipeline_with_spark_kafka_spark.sources.tables import local_rows


def pagerank(edges: DataFrame, *, damping: float = 0.85, iterations: int = 10) -> DataFrame:
    """(node, rank) for a directed edge list (src, dst).

    Standard damped PageRank with dangling-mass redistribution: nodes
    with no out-edges donate their rank uniformly to everyone (without
    this the total mass leaks and ranks are incomparable across graphs).
    Deterministic: initialization is uniform and every aggregate is
    order-insensitive up to float addition (callers should round emitted
    ranks; see functions/rounding.py). A fixed-count loop: exactly
    ``iterations`` generations.
    """
    # Cache hash(src)-partitioned (round 10): the per-iteration contribs
    # join keys on src (and outdeg groups by src) — the cached
    # partitioning satisfies both, saving an edge shuffle per iteration.
    e = edges.select(F.col("src"), F.col("dst")).distinct().repartition("src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()  # 1 scalar; also materializes the persists
    if n_nodes == 0:
        e.unpersist()
        nodes.unpersist()
        return nodes.select("node", F.lit(0.0).alias("rank"))

    outdeg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg")).persist()
    base = (1.0 - damping) / n_nodes

    def step(ranks: DataFrame) -> DataFrame:
        with_deg = ranks.join(outdeg, "node", "left")
        # dangling mass: rank held by nodes with no out-edges (1-row scalar)
        dangling = with_deg.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contribs = (
            e.join(
                with_deg.filter(F.col("deg").isNotNull()).select(
                    F.col("node").alias("src"), (F.col("rank") / F.col("deg")).alias("share")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("contrib"))
        )
        # The new ranks reference the previous generation TWICE (dangling
        # scalar + contributions); the driver's lineage cut keeps that from
        # doubling the plan per iteration.
        return (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("rank"),
            )
        )

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank")).localCheckpoint()
    return iterate(ranks, step, iterations=iterations, name="pagerank", release=(e, outdeg, nodes))


def bfs_levels(
    edges: DataFrame,
    source,
    *,
    directed: bool = True,
    max_iterations: int = 30,
) -> DataFrame:
    """(node, level) single-source shortest-path levels by frontier BFS.

    Each generation is the visited set plus one hop: the frontier (the
    rows at the newest level) joins the edge list, already-visited nodes
    drop out by an anti-join, and the new level's rows are the
    generation's changed rows. The loop stops when a hop adds no node and
    raises if the frontier is still growing after ``max_iterations`` hops.
    Unreachable nodes are absent from the result (callers outer-join if
    they want nulls).
    """
    hops = edges.select(F.col("src"), F.col("dst"))
    if not directed:
        hops = hops.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    hops = hops.persist()
    levels = itertools.count(1)

    def expand(visited: DataFrame) -> DataFrame:
        level = next(levels)
        frontier = visited.filter(F.col("level") == level - 1)
        reached = (
            frontier.join(hops, frontier.node == hops.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("level", F.lit(level))
        )
        grown = visited.unionByName(reached)
        return grown.select("*", changed(F.col("level") == level))

    visited = local_rows(
        edges.sparkSession, [(source, 0)], "node bigint, level bigint"
    ).localCheckpoint()
    return iterate(visited, expand, iterations=max_iterations, name="bfs_levels", release=(hops,))


# --------------------------------------------------------------------------
# Label propagation communities (Raghavan et al., Phys. Rev. E 2007)
# --------------------------------------------------------------------------

def label_propagation(edges: DataFrame, *, iterations: int = 10) -> DataFrame:
    """(node, label) community assignment for an undirected edge list
    (src, dst) — synchronous LPA, made deterministic: every node votes
    its own current label once alongside its neighbors' labels (the
    self-vote damps the bipartite flip-flop synchronous LPA is known
    for), the winning label is the most frequent, ties break to the
    SMALLEST label. Initialization is label = node id, so the result is
    a pure function of the edge set.

    Scale shape mirrors ``pagerank``: per iteration one join of the edge
    list against the label relation (shuffle on node key) and a two-stage
    map-side-combinable vote aggregate. The changed flag (new label !=
    old) comes out of that same aggregate: the self-vote marks the node's
    old label. Stops when no label changes; raises when labels are still
    changing after ``iterations`` rounds."""
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        # Cache hash(dst)-partitioned (round 10): the per-iteration vote
        # join keys on dst, and InMemoryTableScan preserves the cached
        # outputPartitioning — one extra exchange at build saves one
        # edge-relation shuffle EVERY iteration (distinct() alone caches
        # hash(src, dst), which satisfies no later join).
        .repartition("dst")
        .persist()
    )
    nodes = sym.select(F.col("src").alias("node")).distinct().persist()
    if nodes.count() == 0:
        sym.unpersist()
        nodes.unpersist()
        return nodes.select("node", F.col("node").alias("label"))

    def vote(labels: DataFrame) -> DataFrame:
        neighbor_votes = sym.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("node"), "label", F.lit(False).alias("own"))
        votes = neighbor_votes.unionByName(labels.withColumn("own", F.lit(True)))
        counts = votes.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt"), F.max("own").alias("own")
        )
        winner = F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
        return counts.groupBy("node").agg(
            F.max_by("label", winner).alias("label"), F.max_by("label", "own").alias("old")
        ).select("node", "label", changed(F.col("label") != F.col("old")))

    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint()
    return iterate(
        labels, vote, iterations=iterations, name="label_propagation", release=(sym, nodes)
    )


def co_occurrence_pairs(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """All unordered distinct item pairs (a < b) within each group, as
    (pa, pb) rows — the basket-pair primitive behind market-basket
    affinity and the co-purchase edge graph.

    Scale shape (round-8 rewrite): ONE shuffle — ``collect_set`` per
    group dedupes (group, item) in the same aggregate, then the a<b
    pairs are generated EXPRESSION-side from the sorted array, replacing
    the previous distinct + group-keyed self-join + pair projection
    (three shuffles of the pairs relation). The per-group array is
    bounded by the group's line count (single digits in order data),
    never by the catalog — a pathological mega-group should be capped
    upstream before calling this.

    Pair expansion is TWO ``Generate`` operators (round 13, guide §4.1):
    ``posexplode(items)`` elects each left endpoint, then ``explode``
    of the tail ``slice`` yields its partners — both codegen'd, no
    per-element struct building. The round-8 nested
    ``transform(transform(...struct...))`` lambdas evaluated INTERPRETED
    per pair and materialized the full per-group pair-struct array
    before exploding; measured 1.27 -> 1.06 s median (min 1.23 -> 0.92)
    for the supported-edges aggregate at sf0.1, identical pairs."""
    per_group = df.groupBy(group_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("items")
    )
    left = per_group.select("items", F.posexplode("items").alias("i", "pa"))
    return left.select(
        "pa", F.explode(F.expr("slice(items, i + 2, size(items))")).alias("pb")
    )
