"""Streaming data-quality gate: run the declarative constraint suite
(operators/quality_checks.py) on every micro-batch and route the WHOLE
batch to the accept or quarantine sink.

Batch-level (not row-level) routing is deliberate: a constraint
violation in an ingest feed usually means the upstream producer broke —
quarantining the whole epoch preserves it for replay-after-fix, while
row-level filtering would silently ship a half-broken batch. The suite
itself is one aggregate pass (suite-sized collect — a handful of
scalars, never rows), so the gate adds one scan per micro-batch.

foreachBatch is the right surface: the routing decision needs the
CHECK RESULTS before any write happens, which no declarative sink can
express. Replay-safe: each batch is written to ``<sink>/epoch=<id>``
with overwrite, so a re-delivered epoch re-runs the same deterministic
checks and replaces its own earlier output instead of adding a copy.
Reading a sink directory yields the ``epoch`` partition column. A sink
directory belongs to one checkpoint: a query started on a fresh
checkpoint numbers its epochs from 0 again and would overwrite them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from data_pipeline_with_spark_kafka_spark.operators.quality_checks import Check, run_checks
from data_pipeline_with_spark_kafka_spark.streaming.sinks import materialized


def quality_gated_batch_handler(
    checks: list[Check],
    accept_path: str,
    quarantine_path: str,
    *,
    audit: list | None = None,
):
    """Returns a foreachBatch handler. ``audit`` (optional list) collects
    (batch_id, passed, {check_name: metric}) tuples for observability."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # one execution of the batch feeds both the checks and the write
        with materialized(batch_df) as batch:
            if batch is None:
                return
            results = run_checks(batch, checks).collect()
            ok = all(r.passed for r in results)
            target = accept_path if ok else quarantine_path
            batch.write.mode("overwrite").parquet(os.path.join(target, f"epoch={batch_id}"))
            if audit is not None:
                audit.append((batch_id, ok, {r.check_name: r.metric for r in results}))

    return handle
