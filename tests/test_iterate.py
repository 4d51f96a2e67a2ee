"""The shared iteration driver (operators/iterate.py): converging loops fail
loudly when their budget runs out, and a loop's convergence count rides its
checkpoint jobs instead of running actions of its own."""

from __future__ import annotations

import pytest

from data_pipeline_with_spark_kafka_spark.operators import dedup, graph


@pytest.fixture(autouse=True)
def _distributed(distributed_tier):
    """These tests pin the loops ``iterate`` drives, so every operator
    here runs its distributed tier (a frame over a Python list carries
    no size estimate and would take it anyway)."""
    with distributed_tier():
        yield


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


def test_fits_driver_is_the_broadcast_size_rule(spark):
    """The tier rule compares a plan's size estimate with the broadcast
    threshold and runs no job: a sized local relation fits under the
    threshold and not under -1, a frame over a Python list has no size
    estimate and never fits, and a checkpoint carries its origin's size."""
    from data_pipeline_with_spark_kafka_spark.operators.iterate import fits_driver
    from data_pipeline_with_spark_kafka_spark.sources.tables import local_rows

    small = local_rows(spark, [(i, i) for i in range(10)], "a long, b long")
    unsized = spark.createDataFrame([(1, 2)], "a long, b long")
    assert not fits_driver(small)  # the module fixture forces -1
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "32MB")
    assert fits_driver(small)
    assert not fits_driver(unsized)
    plan_size = small._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(plan_size - 1))
    assert not fits_driver(small)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(plan_size))
    assert fits_driver(small)
    assert fits_driver(small.filter("a > 0").localCheckpoint())


def test_collect_if_fits_bounds_the_collect_in_rows(spark):
    """The bounded collect fits ``threshold // row width`` rows, the width
    being Spark's per-row estimate (8 bytes plus 8 per long column): n
    rows fit under ``24 * n`` bytes and n + 1 rows do not, whatever the
    plan estimate says, and -1 runs no job."""
    from data_pipeline_with_spark_kafka_spark.operators.iterate import collect_if_fits

    rows = spark.createDataFrame([(i, i) for i in range(10)], "a long, b long")
    sc = spark.sparkContext
    sc.setJobGroup("collect-if-fits", "bounded collect check")
    try:
        assert collect_if_fits(rows) is None  # the module fixture forces -1
    finally:
        sc.setJobGroup(None, None)
    assert not sc.statusTracker().getJobIdsForGroup("collect-if-fits")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(24 * 10))
    table = collect_if_fits(rows)
    assert table is not None and sorted(table.column("a").to_pylist()) == list(range(10))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(24 * 10 - 1))
    assert collect_if_fits(rows) is None
