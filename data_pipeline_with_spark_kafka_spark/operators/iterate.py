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
exactly ``iterations`` generations and never raises. Loops whose state
is driver-side scalars (``train_logreg``, ``kmeans_verified``, the
driver-side BPE path) do not come here. The two trainers make the same
lineage cut once: they ``localCheckpoint()`` their loop-invariant input
and aggregate that leaf every step, so a step never re-plans the
pipeline that built it and no cache entry is left to release.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_CHANGED = "__changed"


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
