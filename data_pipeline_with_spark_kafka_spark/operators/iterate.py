"""One driver for every loop whose state is a DataFrame generation:
connected components (operators/dedup.py), PageRank, BFS and label
propagation (operators/graph.py) and the distributed BPE merge loop
(operators/bpe.py).

Each loop supplies a ``step`` that maps one generation to the next as
lazy DataFrame algebra. ``iterate`` owns the rest, once:

1. **Lineage cut.** Every generation is ``localCheckpoint()``-ed
   (eager). A step that references the previous generation twice (as a
   join base and a message source, say) would otherwise double the
   logical plan per round, and Catalyst analysis goes exponential even
   with every cache warm.
2. **Convergence.** A converging step adds a ``changed(...)`` column to
   its generation. The driver counts it with ``df.observe`` placed
   before that same checkpoint, so the count comes out of the
   checkpoint job and no separate action runs. The loop stops at the
   first generation that changes nothing.
3. **Failure.** A converging loop that spends its budget with rows
   still changing raises; it never returns partial results (a partial
   component labelling splits one duplicate group into fragments).
4. **Release.** The loop-invariant caches are unpersisted in
   ``finally``, on the error path too. Generations need no release: the
   ContextCleaner frees checkpoint blocks once nothing references them.

A step that adds no ``changed`` column is a fixed-count loop: it runs
exactly ``iterations`` generations and never raises.

**Size tier.** Every iterative operator (``classifier_train.train_logreg``,
``clustering.kmeans_verified``, ``dedup.connected_components``,
``bpe.train_bpe``) makes one tier decision, against one bound:
``spark.sql.autoBroadcastJoinThreshold``. The trainers, whose loop input
is a projection of a scan, ask ``fits_driver`` (the plan's size
estimate, no job); connected components and BPE, whose loop input is a
self-join's or an aggregate's output, where the estimate does not track
the rows, ask ``collect_if_fits`` (a collect bounded in rows). A small
input is collected once with ``toArrow()`` and the same loop runs in
numpy or Python on the driver: a Spark job per step costs about 0.2 s
of fixed overhead, which dwarfs the step itself over a few hundred
rows. A large input takes the distributed tier, the 100 TB path: the
trainers ``localCheckpoint()`` their loop-invariant input once and
aggregate that leaf every step, and connected components and BPE run
their generations through ``iterate``. The bound is the broadcast
setting because a relation Spark would ship to every executor is one
the driver can hold; where the two tiers' run times cross is measured
per operator in CHANGES.md, not implied by it. So a session that raises
the threshold to broadcast bigger tables also loops over bigger inputs
on the driver, and one that sets -1 turns the driver tier off.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_CHANGED = "__changed"


def _threshold(df: DataFrame) -> int:
    return df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def fits_driver(df: DataFrame) -> bool:
    """The tier rule for a frame whose plan estimate tracks its rows (a
    projection of a scan): True when ``df`` is small enough to loop over
    on the driver. No job runs.

    The size is the one Spark already knows, the optimized plan's
    ``sizeInBytes``. A ``localCheckpoint()`` carries its origin plan's
    figure onto its ``LogicalRDD``, so the answer is the same before and
    after the checkpoint, and the driver tier skips it. The bound is
    ``spark.sql.autoBroadcastJoinThreshold``: a relation Spark would
    broadcast to every executor is small enough to iterate over on the
    driver. A threshold of -1 switches broadcasts off and forces the
    distributed tier; so does a plan with no size estimate (a frame over
    a Python list is sized at ``spark.sql.defaultSizeInBytes``)."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 <= size <= _threshold(df)


def collect_if_fits(df: DataFrame) -> pa.Table | None:
    """The same rule for a frame whose plan estimate does not track its
    rows: ``df`` collected with ``toArrow()`` when it fits, else None.

    At most ``threshold // row width + 1`` rows are collected (a
    ``limit``), so a frame past the bound never lands on the driver
    whole. The row width is Spark's own per-row estimate, 8 bytes plus
    each column type's default size, so ``n`` rows fit here exactly when
    Spark would size ``n`` such rows under the threshold. A threshold of
    -1 returns None and runs no job."""
    threshold = _threshold(df)
    if threshold < 0:
        return None
    width = 8 + sum(f.dataType().defaultSize() for f in df._jdf.schema().fields())
    n_max = threshold // width
    table = df.limit(n_max + 1).toArrow()
    return table if table.num_rows <= n_max else None


def changed(cond: Column) -> Column:
    """The per-row "this row changed" flag a converging step selects into
    its next generation; ``iterate`` counts it and drops it."""
    return cond.alias(_CHANGED)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    iterations: int,
    name: str,
    release: Iterable[DataFrame] = (),
) -> DataFrame:
    """Run ``step`` for up to ``iterations`` generations from ``state`` and
    return the last one, checkpointed. Raises ``RuntimeError`` when a
    converging step still changes rows after ``iterations`` generations."""
    still_changing = 0
    try:
        for _ in range(iterations):
            nxt = step(state)
            if _CHANGED not in nxt.columns:
                state = nxt.localCheckpoint()
                continue
            obs = Observation()
            state = (
                nxt.observe(obs, F.count_if(_CHANGED).alias("n"))
                .drop(_CHANGED)
                .localCheckpoint()
            )
            still_changing = obs.get["n"]
            if still_changing == 0:
                return state
        if still_changing:
            raise RuntimeError(
                f"{name} did not converge within {iterations} iterations "
                f"({still_changing} rows still changing); raise its iteration "
                "budget — returning the partial state would be silently wrong"
            )
        return state
    finally:
        for df in release:
            df.unpersist()
