"""Streaming throughput benchmark: drive the reference-parity windowed
pipeline from a rate source and report processed rows/second.

The reference's extract side publishes one message per blocking
``future.get()`` round-trip — a ~100 msg/s ceiling (BASELINE.md). This
harness measures the engine-side equivalent: rate-source events flow
through the same parse -> watermark -> 1-minute window aggregate ->
stream-static join -> derived-metric pipeline the reference runs, into a
noop-equivalent memory sink, and throughput is total input rows / wall
seconds over a fixed run.

Usage: python tools/stream_bench.py [rows_per_second] [run_seconds]
Prints one JSON line {"metric": "stream_rows_per_sec", ...}.
``measure(spark, ...)`` is the importable form bench.py uses to append
the same metric line to the per-round bench artifact.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.streaming.covid_pipeline import (
    windowed_enrichment,
)


def measure(spark, rate: int = 200_000, run_seconds: int = 90) -> dict:
    """Run the rate-source windowed pipeline and return the metric dict
    {"metric": "stream_rows_per_sec", ...} (value 0.0 if no data batch
    completed within the deadline)."""
    dim = spark.createDataFrame(
        [(f"LOC_{i}", 1_000_000 + i, "EU") for i in range(50)],
        "location string, population long, continent string",
    )

    # Rate source stands in for Kafka: same downstream pipeline, no broker.
    events = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .load()
        .select(
            F.col("timestamp").alias("event_time"),
            F.concat(F.lit("LOC_"), (F.col("value") % 50).cast("string")).alias("location"),
            (F.col("value") % 1000).cast("int").alias("new_cases"),
            (F.col("value") % 100000).cast("int").alias("total_cases"),
        )
    )
    enriched = windowed_enrichment(dim)(events)

    query = (
        enriched.writeStream.outputMode("update")
        .format("memory")
        .queryName("stream_bench_out")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sb-ckpt-"))
        .start()
    )
    # The first micro-batch pays all the one-time costs (state init,
    # codegen) and ingests 0 rows; measure steady state from the batches
    # that actually carry data, using their own reported durations.
    data_batches = _drain(query, run_seconds)
    total_in = sum(p["numInputRows"] for p in data_batches.values())
    total_ms = sum(p["durationMs"]["triggerExecution"] for p in data_batches.values())
    rows_per_sec = round(total_in / (total_ms / 1000.0), 1) if total_ms else 0.0
    # State-store health from the last data batch: rows held and bytes
    # used by the windowed aggregation. With the 10-minute watermark the
    # row count is bounded (~windows-in-horizon x keys) no matter how
    # long the stream runs — tests/test_state_store.py proves the
    # plateau; this records the measured steady-state size per round.
    state: dict = {}
    if data_batches:
        last = data_batches[max(data_batches)]
        ops = last.get("stateOperators") or []
        if ops:
            state = {
                "state_rows": int(ops[0].get("numRowsTotal", 0)),
                "state_memory_bytes": int(ops[0].get("memoryUsedBytes", 0)),
            }
    return {
        "metric": "stream_rows_per_sec",
        "value": rows_per_sec,
        "unit": "rows/sec",
        "offered_rate": rate,
        "run_seconds": run_seconds,
        "n_batches": len(data_batches),
        "total_rows": int(total_in),
        **state,
    }


def _batch_metrics(data_batches: dict[str, dict]) -> tuple[float, int, dict]:
    """(rows_per_sec, total_rows, state profile) from progress records —
    rows/s over the data batches' own trigger durations (the stateless
    metric's canon), state from the last data batch's first operator."""
    total_in = sum(p["numInputRows"] for p in data_batches.values())
    total_ms = sum(p["durationMs"]["triggerExecution"] for p in data_batches.values())
    rows_per_sec = round(total_in / (total_ms / 1000.0), 1) if total_ms else 0.0
    state: dict = {}
    if data_batches:
        last = data_batches[max(data_batches)]
        ops = last.get("stateOperators") or []
        if ops:
            state = {
                "state_rows": int(ops[0].get("numRowsTotal", 0)),
                "state_memory_bytes": int(ops[0].get("memoryUsedBytes", 0)),
            }
    return rows_per_sec, int(total_in), state


def _drain(query, run_seconds: int, min_batches: int = 5) -> dict[str, dict]:
    """Collect progress records for batches that carried data until the
    deadline (or ``min_batches`` data batches, whichever first)."""
    deadline = time.time() + run_seconds
    data_batches: dict[str, dict] = {}
    while time.time() < deadline:
        time.sleep(2)
        for p in query.recentProgress:
            p = json.loads(p) if isinstance(p, str) else p
            if p["numInputRows"] > 0:
                data_batches[p["batchId"]] = p
        if len(data_batches) >= min_batches:
            break
    query.stop()
    return data_batches


def measure_stateful(spark, rate: int = 200_000, run_seconds: int = 90) -> dict:
    """Throughput + state profile of the applyInPandasWithState family
    (round-8 verdict task #5), measured on the trending top-k operator —
    the family's representative: per-group pandas state round-trips
    through Arrow, event-time timeout eviction, O(k) state per window.

    Rate-source events (10k-item domain, so raw (window, item) counting
    would hold 10k state rows per open window; Misra-Gries holds <= 19)
    flow through ``streaming.trending.trending_items`` with a 10-second
    window / 20-second watermark into a memory sink. Reported rows/s is
    input rows over the data batches' own trigger durations — the same
    canon as the stateless metric."""
    from data_pipeline_with_spark_kafka_spark.streaming.trending import trending_items

    events = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .load()
        .select(
            F.col("timestamp").alias("event_time"),
            F.concat(F.lit("ITEM_"), (F.col("value") % 10_000).cast("string")).alias(
                "item"
            ),
        )
    )
    trending = trending_items(
        events,
        item_col="item",
        time_col="event_time",
        window="10 seconds",
        watermark="20 seconds",
        top=10,
    )
    query = (
        trending.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_stream_bench_out")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ssb-ckpt-"))
        .start()
    )
    data_batches = _drain(query, run_seconds)
    total_in = sum(p["numInputRows"] for p in data_batches.values())
    total_ms = sum(p["durationMs"]["triggerExecution"] for p in data_batches.values())
    rows_per_sec = round(total_in / (total_ms / 1000.0), 1) if total_ms else 0.0
    state: dict = {}
    if data_batches:
        last = data_batches[max(data_batches)]
        ops = last.get("stateOperators") or []
        if ops:
            state = {
                "state_rows": int(ops[0].get("numRowsTotal", 0)),
                "state_memory_bytes": int(ops[0].get("memoryUsedBytes", 0)),
            }
    return {
        "metric": "stateful_stream_rows_per_sec",
        "value": rows_per_sec,
        "unit": "rows/sec",
        "operator": "trending_items (applyInPandasWithState, MG top-k)",
        "offered_rate": rate,
        "run_seconds": run_seconds,
        "n_batches": len(data_batches),
        "total_rows": int(total_in),
        **state,
    }


def measure_stateful_attribution(spark, rate: int = 200_000, run_seconds: int = 90) -> dict:
    """Throughput + state profile of the streaming last-touch attribution
    operator (round-9 verdict task #3 — the stateful bench previously
    covered trending only). Rate-source events over a 10k-user domain,
    ~10% purchases, flow through
    ``streaming.attribution_stream.attribute_purchases_stream`` with a
    60-second lookback / 20-second watermark into a memory sink. State
    per user is the pruned touch deque bounded by the lookback horizon,
    so steady-state rows ~ |active users| regardless of run length."""
    from data_pipeline_with_spark_kafka_spark.streaming.attribution_stream import (
        attribute_purchases_stream,
    )

    events = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 10_000).alias("user_id"),
            F.when(F.col("value") % 10 < 5, F.lit("view"))
            .when(F.col("value") % 10 < 9, F.lit("click"))
            .otherwise(F.lit("purchase"))
            .alias("event_type"),
            (F.col("value") % 1000).cast("double").alias("value"),
        )
    )
    verdicts = attribute_purchases_stream(
        events, time_col="ts", lookback="60 seconds", watermark="20 seconds"
    )
    query = (
        verdicts.writeStream.outputMode("update")
        .format("memory")
        .queryName("attr_stream_bench_out")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="asb-ckpt-"))
        .start()
    )
    data_batches = _drain(query, run_seconds)
    rows_per_sec, total_rows, state = _batch_metrics(data_batches)
    return {
        "metric": "attribution_stream_rows_per_sec",
        "value": rows_per_sec,
        "unit": "rows/sec",
        "operator": "attribute_purchases_stream (applyInPandasWithState, "
                    "lookback-pruned touch state)",
        "offered_rate": rate,
        "run_seconds": run_seconds,
        "n_batches": len(data_batches),
        "total_rows": total_rows,
        **state,
    }


def measure_stateful_rfm(spark, rate: int = 200_000, run_seconds: int = 90) -> dict:
    """Throughput + state profile of the streaming RFM maintainer WITH the
    durable parquet-ledger fold. Rate-source orders over a 50k-customer
    domain flow through ``streaming.rfm_stream.rfm_base_stream`` into
    ``streaming.sinks.keyed_upsert_parquet`` — so every trigger duration
    INCLUDES the ledger merge (anti-join + rewrite of the accumulating
    per-customer table), the deployment-shaped cost. State rows converge
    to |customers| (lifetime aggregates, no eviction horizon); the
    artifact also reports the final ledger row count."""
    from data_pipeline_with_spark_kafka_spark.streaming.rfm_stream import rfm_base_stream
    from data_pipeline_with_spark_kafka_spark.streaming.sinks import keyed_upsert_parquet

    orders = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .load()
        .select(
            F.col("value").alias("o_orderkey"),
            F.col("timestamp").alias("o_orderdate"),
            (F.col("value") % 50_000).alias("o_custkey"),
            ((F.col("value") % 100_000).cast("double") / 100.0).alias("o_totalprice"),
        )
    )
    ledger_dir = os.path.join(tempfile.mkdtemp(prefix="rfm-ledger-"), "ledger")
    query = (
        rfm_base_stream(orders)
        .writeStream.outputMode("update")
        .foreachBatch(keyed_upsert_parquet(ledger_dir, ["o_custkey"]))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rfmb-ckpt-"))
        .start()
    )
    data_batches = _drain(query, run_seconds)
    rows_per_sec, total_rows, state = _batch_metrics(data_batches)
    ledger_rows = 0
    if os.path.isdir(ledger_dir):
        ledger_rows = spark.read.parquet(ledger_dir).count()
    return {
        "metric": "rfm_stream_rows_per_sec",
        "value": rows_per_sec,
        "unit": "rows/sec",
        "operator": "rfm_base_stream + keyed_upsert_parquet ledger "
                    "(trigger durations include the per-batch anti-join "
                    "+ full ledger rewrite)",
        "offered_rate": rate,
        "run_seconds": run_seconds,
        "n_batches": len(data_batches),
        "total_rows": total_rows,
        "ledger_rows": int(ledger_rows),
        **state,
    }


def measure_stateful_session(spark, rate: int = 200_000, run_seconds: int = 90) -> dict:
    """Throughput + state profile of the streaming sessionization twin
    (round 11, verdict stretch #8 — completes the stateful family:
    trending, attribution, RFM, sessions). Rate-source events over a
    50k-user domain flow through
    ``streaming.session_stream.session_ids_stream`` (30-minute gap,
    10-second watermark) into a memory sink: every user holds ONE open
    session row, each batch re-emits the sessions it touched, so the
    measured cost is the per-event state fold + per-touched-session
    emission — the operator's real steady-state shape."""
    from data_pipeline_with_spark_kafka_spark.streaming.session_stream import (
        session_ids_stream,
    )

    events = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 50_000).alias("user_id"),
        )
    )
    stream = session_ids_stream(events, gap="30 minutes", watermark="10 seconds")
    query = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("session_stream_bench_out")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sess-ckpt-"))
        .start()
    )
    data_batches = _drain(query, run_seconds)
    rows_per_sec, total_rows, state = _batch_metrics(data_batches)
    return {
        "metric": "session_stream_rows_per_sec",
        "value": rows_per_sec,
        "unit": "rows/sec",
        "operator": "session_ids_stream (applyInPandasWithState, "
                    "O(1) open-session state + lifetime seq cursor)",
        "offered_rate": rate,
        "run_seconds": run_seconds,
        "n_batches": len(data_batches),
        "total_rows": total_rows,
        **state,
    }


_MODES = {
    "--stateful": measure_stateful,
    "--attribution": measure_stateful_attribution,
    "--rfm": measure_stateful_rfm,
    "--session": measure_stateful_session,
}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    fn = measure
    for flag, mode_fn in _MODES.items():
        if flag in sys.argv[1:]:
            fn = mode_fn
    rate = int(args[0]) if args else 200_000
    run_seconds = int(args[1]) if len(args) > 1 else 90

    from data_pipeline_with_spark_kafka_spark.session import get_spark

    spark = get_spark("stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(fn(spark, rate, run_seconds)))
    spark.stop()


if __name__ == "__main__":
    main()
