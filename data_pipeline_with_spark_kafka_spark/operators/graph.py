"""PageRank over a DataFrame edge list — the fourth iterative-algorithm
family member (connected components, k-means, BPE are the others), same
driver-loop discipline: each generation is bounded DataFrame algebra, the
only driver-side values are 1-row scalars, generations persist/materialize
eagerly and unpersist their predecessor.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    iterations: int = 10,
    loop_partitions: int | None = None,
) -> DataFrame:
    """(node, rank) for a directed edge list (src, dst).

    Standard damped PageRank with dangling-mass redistribution: nodes
    with no out-edges donate their rank uniformly to everyone (without
    this the total mass leaks and ranks are incomparable across graphs).
    Deterministic: initialization is uniform and every aggregate is
    order-insensitive up to float addition (callers should round emitted
    ranks; see functions/rounding.py).

    ``loop_partitions``: shuffle width for the per-iteration joins. The
    iteration cost is STAGE COUNT x scheduling latency, not data volume —
    on a small or medium graph, 32-wide exchanges per generation are pure
    overhead (measured 18 s/iteration at width 32 vs ~1 s at width 4 on a
    toy graph). Size it to the edge count (edges/partition ~ a few
    million); None inherits the session default, which is right when the
    graph itself is 100-TB-scale.
    """
    spark = edges.sparkSession
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    if loop_partitions is not None:
        # Session conf, not input partitioning, sets exchange width — and
        # AQE's coalescing keeps default parallelism for tiny shuffles
        # (parallelismFirst), so a narrow loop must pin it explicitly.
        # Every materialization happens inside this function (eager
        # counts), so the try/finally below restores the session before
        # any caller-side action runs.
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    try:
        return _pagerank_loop(edges, damping=damping, iterations=iterations)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)


def _pagerank_loop(edges: DataFrame, *, damping: float, iterations: int) -> DataFrame:
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
        return nodes.select("node", F.lit(0.0).alias("rank"))

    outdeg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg")).persist()
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank")).localCheckpoint()

    base = (1.0 - damping) / n_nodes
    for _ in range(iterations):
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
        ranks = (
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
            # localCheckpoint (eager), NOT persist+count: the new ranks
            # reference the previous generation TWICE (dangling scalar +
            # contributions), so without lineage truncation the LOGICAL
            # plan doubles per iteration and Catalyst analysis goes
            # exponential even with warm caches — measured 18 s for 5
            # iterations, minutes for 10, vs ~1 s/iteration after the
            # cut. Old generations' checkpoint blocks are freed by the
            # ContextCleaner once unreferenced.
            .localCheckpoint()
        )

    e.unpersist()
    outdeg.unpersist()
    nodes.unpersist()
    return ranks


def bfs_levels(
    edges: DataFrame,
    source,
    *,
    directed: bool = True,
    max_iterations: int = 30,
    loop_partitions: int | None = None,
) -> DataFrame:
    """(node, level) single-source shortest-path levels by frontier BFS.

    Each generation expands the frontier one hop (edge join), drops
    already-visited nodes (anti-join against the accumulated levels),
    and stops when the frontier empties — the per-round driver scalar
    is a 1-row count, the same bounded-convergence contract as the
    connected-components loop in operators/dedup.py. Unreachable nodes
    are absent from the result (callers outer-join if they want nulls).

    ``loop_partitions`` follows pagerank's discipline above: BFS cost
    on small graphs is stage latency, not data volume.
    """
    spark = edges.sparkSession
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    if loop_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    try:
        return _bfs_loop(edges, source, directed=directed, max_iterations=max_iterations)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)


def _bfs_loop(edges: DataFrame, source, *, directed: bool, max_iterations: int) -> DataFrame:
    spark = edges.sparkSession
    hops = edges.select(F.col("src"), F.col("dst"))
    if not directed:
        hops = hops.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    hops = hops.persist()

    # Each generation is localCheckpoint-ed (eager): persist() alone is
    # NOT enough here, because nxt's LOGICAL plan embeds the previous
    # generation twice (as the frontier join arm and inside the visited
    # union), so plan size doubles per level and Catalyst analysis time
    # goes exponential even with every cache warm (measured: level 6 of
    # a 30-node toy graph took minutes). Checkpointing truncates each
    # generation to a leaf; the visited union then grows by ONE leaf per
    # level — linear plans, constant per-level cost.
    visited = spark.createDataFrame([(source, 0)], ["node", "level"]).localCheckpoint()
    frontier = visited
    try:
        for level in range(1, max_iterations + 1):
            nxt = (
                frontier.join(hops, frontier.node == hops.src)
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .withColumn("level", F.lit(level))
                .localCheckpoint()  # eager: materializes and cuts lineage
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt)
            frontier = nxt
        else:
            raise RuntimeError(
                f"BFS did not exhaust its frontier within {max_iterations} hops — "
                "raise max_iterations for deeper graphs"
            )
    finally:
        # unpersist on the error path too — visited is checkpointed, so
        # dropping the edge cache never invalidates the returned result
        hops.unpersist()
    return visited


# --------------------------------------------------------------------------
# Label propagation communities (Raghavan et al., Phys. Rev. E 2007)
# --------------------------------------------------------------------------

def label_propagation(
    edges: DataFrame,
    *,
    iterations: int = 10,
    loop_partitions: int | None = None,
) -> DataFrame:
    """(node, label) community assignment for an undirected edge list
    (src, dst) — synchronous LPA, made deterministic: every node votes
    its own current label once alongside its neighbors' labels (the
    self-vote damps the bipartite flip-flop synchronous LPA is known
    for), the winning label is the most frequent, ties break to the
    SMALLEST label. Initialization is label = node id, so the result is
    a pure function of the edge set.

    Scale shape mirrors ``pagerank``: per iteration one join of the edge
    list against the label relation (shuffle on node key, map-side
    combinable count aggregate), a bounded convergence scalar, and a
    ``localCheckpoint`` lineage cut per generation. Stops early when no
    label changes."""
    spark = edges.sparkSession
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    if loop_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    try:
        return _lpa_loop(edges, iterations=iterations)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)


def _lpa_loop(edges: DataFrame, *, iterations: int) -> DataFrame:
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
    n_nodes = nodes.count()
    if n_nodes == 0:
        sym.unpersist()
        nodes.unpersist()
        return nodes.select("node", F.col("node").alias("label"))

    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint()
    try:
        for _ in range(iterations):
            neighbor_votes = sym.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            ).select(F.col("src").alias("node"), "label")
            votes = neighbor_votes.unionByName(labels)  # self-vote
            counts = votes.groupBy("node", "label").agg(F.count(F.lit(1)).alias("cnt"))
            new_labels = counts.groupBy("node").agg(
                F.max_by(
                    "label", F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                ).alias("label")
            # Checkpoint BEFORE the convergence count (round 10): counting
            # changed labels off the un-materialized plan executed the
            # whole generation (edge join + two-stage vote aggregate) and
            # then localCheckpoint re-executed it — every iteration paid
            # the generation twice (the round-9 graph-bench 3x-PageRank
            # anomaly). Checkpoint-first computes it once; the changed
            # count is then a node-sized join of two MATERIALIZED label
            # relations.
            ).localCheckpoint()
            changed = (
                new_labels.join(labels.withColumnRenamed("label", "old"), "node")
                .filter(F.col("label") != F.col("old"))
                .count()
            )  # bounded convergence scalar (the CC-loop contract)
            labels = new_labels
            if changed == 0:
                break
    finally:
        sym.unpersist()
        nodes.unpersist()
    return labels


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
