"""The shared iteration driver (operators/iterate.py): converging loops fail
loudly when their budget runs out, and a loop's convergence count rides its
checkpoint jobs instead of running actions of its own."""

from __future__ import annotations

import pytest

from data_pipeline_with_spark_kafka_spark.operators import dedup, graph

CHAIN = list(range(12))
CHAIN_EDGES = list(zip(CHAIN, CHAIN[1:]))


def _cc(spark, budget):
    edges = spark.createDataFrame(CHAIN_EDGES, "doc_a long, doc_b long")
    ids = spark.createDataFrame([(i,) for i in CHAIN], "doc_id long")
    return dedup.connected_components(edges, ids, "doc_id", max_iterations=budget)


def _bfs(spark, budget):
    edges = spark.createDataFrame(CHAIN_EDGES, "src long, dst long")
    return graph.bfs_levels(edges, 0, max_iterations=budget)


def _lpa(spark, budget):
    edges = spark.createDataFrame(CHAIN_EDGES, "src long, dst long")
    return graph.label_propagation(edges, iterations=budget)


LOOPS = {"connected_components": _cc, "bfs_levels": _bfs, "label_propagation": _lpa}


@pytest.mark.parametrize("name", list(LOOPS))
def test_loop_raises_on_non_convergence(spark, name):
    """A 12-node chain needs 11 rounds of min-label propagation (its
    diameter), 11 BFS hops from one end, and 12 LPA rounds (the pure-Python
    reference in tests/test_graph.py needs 12). With a budget of 2 each
    loop must raise: partial labels would split one component into
    fragments (dedup would keep one doc per FRAGMENT), a partial BFS drops
    reachable nodes, and partial LPA labels are not communities."""
    with pytest.raises(RuntimeError, match=f"{name} did not converge within 2 iterations"):
        LOOPS[name](spark, 2)


def test_connected_components_runs_only_checkpoint_jobs(spark):
    """The changed-row count is observed on each generation's checkpoint
    job, so connected components launches no convergence action: every
    job in its job group runs under a ``localCheckpoint`` call site or is
    an adaptive query-stage job feeding one. The ``localCheckpoint`` jobs
    are one for the seed labels, one that first materializes the cached
    symmetric edge list (adaptive execution runs a table-cache stage under
    the reading action's call site) and one per generation; a 6-node
    chain converges after 5 changing generations plus 1 quiet one."""
    chain = CHAIN[:6]
    edges = spark.createDataFrame(list(zip(chain, chain[1:])), "doc_a long, doc_b long")
    ids = spark.createDataFrame([(i,) for i in chain], "doc_id long")
    sc = spark.sparkContext
    group = "iterate-cc-jobs"
    sc.setJobGroup(group, "iteration-driver job check")
    try:
        comps = dedup.connected_components(edges, ids, "doc_id")
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    # A job's call site ("collect", "localCheckpoint", ...) is the name of
    # its result stage, the highest stage id of the job. Its other stages
    # can be skipped (shuffle output reused), and the status store evicts
    # skipped stages first once a long session passes
    # spark.ui.retainedStages, so only the result stage is looked up.
    sites = {}  # job id -> call site
    for job in tracker.getJobIdsForGroup(group):
        result = tracker.getStageInfo(max(tracker.getJobInfo(job).stageIds))
        sites[job] = result.name.split(" at ")[0] if result else "?"
    checkpoints = [j for j, site in sites.items() if site == "localCheckpoint"]
    others = {
        site
        for site in sites.values()
        if site != "localCheckpoint" and "withThreadLocalCaptured" not in site
    }
    assert not others, f"jobs other than checkpoint jobs: {others}"
    assert len(checkpoints) == 2 + len(chain)
    assert {r.doc: r.cluster_id for r in comps.collect()} == {i: 0 for i in chain}
