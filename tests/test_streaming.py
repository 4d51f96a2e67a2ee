"""Streaming-semantics golden tests (no streaming oracle exists in DuckDB —
SURVEY.md §5): replay a fixed event log through the declarative pipeline
with a file-stream source and pin down

- stream == batch on the same input (exactness of the windowed plan),
- watermark late-data drop across micro-batches,
- sink idempotency under epoch replay (the reference's K-wart, fixed).
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.plans.pipeline import Pipeline, SinkSpec
from data_pipeline_with_spark_kafka_spark.streaming.covid_pipeline import (
    build_stream_pipeline,
    file_stream_source,
    parse_events,
    windowed_enrichment,
)
from data_pipeline_with_spark_kafka_spark.streaming.sinks import keyed_upsert_parquet

DIM_ROWS = [
    ("LOC_A", 1_000_000, "EU"),
    ("LOC_B", 5_000_000, "AS"),
    ("LOC_C", 250_000, "AF"),
]


def make_dim(spark):
    return spark.createDataFrame(DIM_ROWS, "location string, population long, continent string")


def event(minute: int, second: int, loc: str, new: int, total: int) -> str:
    return json.dumps(
        {
            "value": json.dumps(
                {
                    "event_time": f"2024-06-01 10:{minute:02d}:{second:02d}",
                    "location": loc,
                    "new_cases": new,
                    "total_cases": total,
                }
            )
        }
    )


def write_file(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def run_to_completion(query, timeout=600):
    # Hang backstop only — availableNow drains deterministically but a
    # micro-batch can take minutes under co-tenant load.
    deadline = time.time() + timeout
    while query.isActive and time.time() < deadline:
        query.awaitTermination(2)
    if query.isActive:
        status = query.status
        query.stop()
        raise AssertionError(f"stream did not drain in {timeout}s; status={status}")
    if query.exception() is not None:
        raise AssertionError(f"stream failed: {query.exception()}")


def rows_set(df):
    return {
        (
            r.window_start.isoformat(),
            r.location,
            r.total_new_cases_in_window,
            str(r.avg_new_cases_per_entry),
            r.max_new_cases_in_window,
            r.n_entries,
            str(r.new_cases_per_million_in_window),
        )
        for r in df.collect()
    }


def test_stream_equals_batch_golden(spark, tmp_path):
    src = tmp_path / "events_in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    lines = [
        event(0, 5, "LOC_A", 10, 100),
        event(0, 40, "LOC_A", 20, 120),
        event(0, 50, "LOC_B", 7, 70),
        event(1, 10, "LOC_A", 1, 121),
        event(2, 0, "LOC_C", 30, 30),
        json.dumps({"value": "not json at all"}),  # malformed -> dropped
        json.dumps({"value": json.dumps({"location": "LOC_A"})}),  # missing fields -> dropped
    ]
    write_file(str(src / "part-000.json"), lines)

    dim = make_dim(spark)
    pipeline = build_stream_pipeline(
        file_stream_source(str(src)),
        dim,
        SinkSpec(
            kind="foreach-batch",
            foreach_batch=keyed_upsert_parquet(str(out), ["window_start", "location"]),
            output_mode="update",
            trigger={"availableNow": True},
            checkpoint=str(ckpt),
        ),
    )
    run_to_completion(pipeline.run(spark))

    streamed = spark.read.parquet(str(out))

    batch_raw = spark.read.schema("value string").json(str(src))
    golden = windowed_enrichment(dim)(parse_events(batch_raw))

    # The sink schema carries the nondeterministic processing_time audit
    # column (reference parity); goldens compare the deterministic columns.
    assert "processing_time" in streamed.columns
    assert dict(streamed.dtypes)["processing_time"] == "timestamp"
    assert streamed.filter(F.col("processing_time").isNull()).count() == 0
    assert rows_set(streamed.drop("processing_time")) == rows_set(golden)
    # 3 windows for LOC_A(2), LOC_B(1), LOC_C(1) -> 4 keyed rows
    assert streamed.count() == 4


def test_watermark_drops_late_data(spark, tmp_path):
    src = tmp_path / "late_in"
    out = tmp_path / "late_out"
    ckpt = tmp_path / "late_ckpt"
    src.mkdir()

    # Spark applies the late-event filter with the watermark persisted at the
    # PREVIOUS batch (one-batch lag), so the drop needs three micro-batches:
    # batch 0 (10:30) advances the watermark to 10:20 at its commit; batch 1
    # (10:31) still filters with the epoch watermark; batch 2's late 10:00
    # event is dropped against 10:20.
    write_file(str(src / "a-first.json"), [event(30, 0, "LOC_A", 5, 50)])
    write_file(str(src / "b-second.json"), [event(31, 0, "LOC_B", 9, 90)])
    write_file(str(src / "c-late.json"), [event(0, 0, "LOC_C", 99, 990)])
    # File source orders by modification time; pin the intended order.
    os.utime(str(src / "a-first.json"), (1, 1))
    os.utime(str(src / "b-second.json"), (100, 100))

    dim = make_dim(spark)
    pipeline = build_stream_pipeline(
        file_stream_source(str(src), max_files_per_trigger=1),
        dim,
        SinkSpec(
            kind="foreach-batch",
            foreach_batch=keyed_upsert_parquet(str(out), ["window_start", "location"]),
            output_mode="update",
            trigger={"availableNow": True},
            checkpoint=str(ckpt),
        ),
    )
    run_to_completion(pipeline.run(spark))

    locations = {r.location for r in spark.read.parquet(str(out)).collect()}
    assert locations == {"LOC_A", "LOC_B"}, f"late LOC_C row should be dropped, got {locations}"


def test_keyed_upsert_idempotent_under_replay(spark, tmp_path):
    out = tmp_path / "upsert_out"
    dim = make_dim(spark)
    raw = spark.createDataFrame([(line,) for line in [
        json.loads(event(0, 5, "LOC_A", 10, 100))["value"],
        json.loads(event(0, 30, "LOC_B", 3, 30))["value"],
    ]], "value string")
    batch = windowed_enrichment(dim)(parse_events(raw))

    upsert = keyed_upsert_parquet(str(out), ["window_start", "location"])
    upsert(batch, epoch_id=1)
    first = sorted(rows_set(spark.read.parquet(str(out))))
    upsert(batch, epoch_id=1)  # replayed epoch (at-least-once delivery)
    second = sorted(rows_set(spark.read.parquet(str(out))))
    assert first == second
    assert spark.read.parquet(str(out)).count() == 2

    # A revised emission for the same key replaces, not duplicates.
    raw2 = spark.createDataFrame(
        [(json.loads(event(0, 45, "LOC_A", 90, 900))["value"],)], "value string"
    )
    revised = windowed_enrichment(dim)(parse_events(raw2))
    upsert(revised, epoch_id=2)
    final = spark.read.parquet(str(out))
    assert final.count() == 2
    loc_a = final.filter(F.col("location") == "LOC_A").collect()[0]
    assert loc_a.total_new_cases_in_window == 90


def test_keyed_upsert_runs_each_batch_once_and_sizes_target_by_bytes(spark, tmp_path):
    """Each micro-batch's stateful plan executes once: a second execution
    (an emptiness probe, or the anti-join and the union of the merged
    write each reading the batch) opens one more state store per shuffle
    partition, so ``numStateStoreInstances`` would be a multiple of
    ``numShufflePartitions``. The rewritten target holds one file per
    ``spark.sql.files.maxPartitionBytes`` of data, not one per upstream
    partition."""
    src = tmp_path / "once_in"
    out = tmp_path / "once_out"
    src.mkdir()
    locs = [r[0] for r in DIM_ROWS]
    for i in range(3):
        path = src / f"f{i}.json"
        write_file(str(path), [event(i, 10 * j, loc, i + j, 10 * j) for j in range(3) for loc in locs])
        os.utime(str(path), (100 * (i + 1), 100 * (i + 1)))

    pipeline = build_stream_pipeline(
        file_stream_source(str(src), max_files_per_trigger=1),
        make_dim(spark),
        SinkSpec(
            kind="foreach-batch",
            foreach_batch=keyed_upsert_parquet(str(out), ["window_start", "location"]),
            output_mode="update",
            trigger={"availableNow": True},
            checkpoint=str(tmp_path / "once_ck"),
        ),
    )
    query = pipeline.run(spark)
    run_to_completion(query)

    data_batches = [p for p in query.recentProgress if p.numInputRows > 0]
    assert len(data_batches) == 3
    for progress in data_batches:
        for op in progress.stateOperators:
            assert op.numStateStoreInstances == op.numShufflePartitions, progress.json
    assert spark.read.parquet(str(out)).count() == 3 * len(locs)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    size = sum(os.path.getsize(os.path.join(out, f)) for f in files)
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    assert len(files) == max(1, -(-size // split)) == 1


def test_keyed_upsert_swap_crash_loses_no_rows(spark, tmp_path, monkeypatch):
    """A crash after the new target is written but before it is renamed
    in must not lose the old target: the replayed epoch merges into it."""
    out = tmp_path / "swap_out"
    upsert = keyed_upsert_parquet(str(out), ["k"])
    upsert(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), epoch_id=1)

    real_rename = os.rename

    def crash_on_swap_in(src, dst):
        if ".tmp-" in os.fspath(src):
            raise OSError("injected crash before the new target is renamed in")
        real_rename(src, dst)

    batch2 = spark.createDataFrame([("c", 3)], "k string, v int")
    monkeypatch.setattr(os, "rename", crash_on_swap_in)
    with pytest.raises(OSError, match="injected"):
        upsert(batch2, epoch_id=2)
    monkeypatch.setattr(os, "rename", real_rename)

    upsert(batch2, epoch_id=2)  # replayed epoch
    assert {(r.k, r.v) for r in spark.read.parquet(str(out)).collect()} == {
        ("a", 1), ("b", 2), ("c", 3),
    }
    leftovers = [d for d in os.listdir(tmp_path) if d.startswith("swap_out.")]
    assert leftovers == []


def test_append_mode_emits_only_finalized_windows(spark, tmp_path):
    """Append mode + watermark: a window is emitted exactly once, and only
    after the watermark passes its end. With the one-batch watermark lag,
    the 10:00 window finalizes in batch 2 (watermark from batch 1's 10:30
    max) while the 10:30/10:31 windows stay open at stream end."""
    src = tmp_path / "ap_in"
    ckpt = tmp_path / "ap_ck"
    src.mkdir()
    write_file(str(src / "a.json"), [event(0, 10, "LOC_A", 5, 50)])
    write_file(str(src / "b.json"), [event(30, 0, "LOC_A", 7, 70)])
    write_file(str(src / "c.json"), [event(31, 0, "LOC_B", 9, 90)])
    os.utime(str(src / "a.json"), (1, 1))
    os.utime(str(src / "b.json"), (100, 100))

    emitted = []

    def collect(df, epoch):
        emitted.extend((epoch, str(r.window_start), r.location) for r in df.collect())

    dim = make_dim(spark)
    pipeline = build_stream_pipeline(
        file_stream_source(str(src), max_files_per_trigger=1),
        dim,
        SinkSpec(
            kind="foreach-batch",
            foreach_batch=collect,
            output_mode="append",
            trigger={"availableNow": True},
            checkpoint=str(ckpt),
        ),
    )
    run_to_completion(pipeline.run(spark))

    windows = [(w, loc) for _, w, loc in emitted]
    # only the finalized 10:00 window came out; open windows are withheld
    assert windows == [("2024-06-01 10:00:00", "LOC_A")], emitted


def test_streaming_kafka_payload_sink(spark, tmp_path):
    """Producer-side payload serialization on a STREAM: windowed results are
    serialized to (key, value) wire format in foreachBatch — the engine-side
    equivalent of the reference's per-row Python producer loop
    (kafka_producer.py:79-88), minus the broker."""
    import json as _json

    from data_pipeline_with_spark_kafka_spark.sources.readers import to_kafka_payload

    src = tmp_path / "kp_in"
    ckpt = tmp_path / "kp_ck"
    out = tmp_path / "kp_out"
    src.mkdir()
    write_file(str(src / "a.json"), [event(0, 10, "LOC_A", 5, 50), event(0, 20, "LOC_B", 3, 30)])

    def publish(df, epoch):
        to_kafka_payload(df.select("window_start", "location", "total_new_cases_in_window"),
                         key_col="location").write.mode("append").parquet(str(out))

    dim = make_dim(spark)
    pipeline = build_stream_pipeline(
        file_stream_source(str(src)),
        dim,
        SinkSpec(kind="foreach-batch", foreach_batch=publish, output_mode="update",
                 trigger={"availableNow": True}, checkpoint=str(ckpt)),
    )
    run_to_completion(pipeline.run(spark))

    payloads = spark.read.parquet(str(out)).collect()
    assert {r.key for r in payloads} == {"LOC_A", "LOC_B"}
    decoded = [_json.loads(r.value) for r in payloads]
    assert {d["total_new_cases_in_window"] for d in decoded} == {5, 3}
    assert all(set(d) == {"window_start", "location", "total_new_cases_in_window"} for d in decoded)


def user_event(t: str, user: str, value: float) -> str:
    return json.dumps({"user_id": user, "ts": t, "value": value})


def user_stream(spark, path, *, max_files_per_trigger=1):
    return (
        spark.readStream.schema("user_id string, ts string, value double")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(str(path))
        .withColumn("ts", F.to_timestamp("ts"))
    )


def test_streaming_session_window_finalizes_and_drops_late(spark, tmp_path):
    """session_window on a STREAM (the batch expression from
    queries/windows_time.py, unchanged): append mode (Spark does not
    support update mode for session windows) across 3 micro-batches.
    A batch-2 event EXTENDS an open session (merge into session state),
    filler advances the watermark to finalize it, and a batch-3 event
    older than the watermark is dropped."""
    src = tmp_path / "sess_in"
    ckpt = tmp_path / "sess_ck"
    src.mkdir()
    # batch 1: U1 opens a session (2 events), U2 opens one
    write_file(str(src / "f1.json"), [
        user_event("2024-06-01 10:00:00", "U1", 1.0),
        user_event("2024-06-01 10:10:00", "U1", 2.0),
        user_event("2024-06-01 10:05:00", "U2", 5.0),
    ])
    # batch 2: U1's session extends (10:20 < 10:10 + 30min gap); far-future
    # filler pushes the watermark to 12:50 at commit (13:00 - 10 min delay)
    write_file(str(src / "f2.json"), [
        user_event("2024-06-01 10:20:00", "U1", 3.0),
        user_event("2024-06-01 13:00:00", "FILL", 0.0),
    ])
    # batch 3: a 9:00 event is far behind the 12:50 watermark -> dropped;
    # this batch also emits the sessions finalized by batch 2's watermark
    write_file(str(src / "f3.json"), [user_event("2024-06-01 09:00:00", "LATE", 99.0)])
    os.utime(str(src / "f1.json"), (1, 1))
    os.utime(str(src / "f2.json"), (100, 100))

    sessions = (
        user_stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events", "total_value")
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory").queryName("sess_out")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)

    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    # U1's merged session spans all 3 events (end = last event + gap); the
    # FILL session is still open (withheld by append mode) and LATE was
    # dropped — exactly the finalized sessions appear, each exactly once.
    assert got == {
        ("U1", "2024-06-01 10:00:00", "2024-06-01 10:50:00", 3, 6.0),
        ("U2", "2024-06-01 10:05:00", "2024-06-01 10:35:00", 1, 5.0),
    }


def test_streaming_sliding_window_update_mode_revises_and_drops_late(spark, tmp_path):
    """Sliding window (10 min / 5 min) on a STREAM in update mode across 3
    micro-batches with a keyed-upsert sink: a batch-2 event lands in the
    SAME two windows as batch 1 (update-mode re-emission replaces via the
    keyed sink), and a batch-3 event behind the watermark is dropped. The
    converged sink state equals the batch-mode plan on the kept events."""
    src = tmp_path / "slide_in"
    ckpt = tmp_path / "slide_ck"
    out = tmp_path / "slide_out"
    src.mkdir()
    write_file(str(src / "f1.json"), [user_event("2024-06-01 10:02:00", "U1", 1.0)])
    # revises both of U1's open windows; filler -> watermark 11:50 at commit
    write_file(str(src / "f2.json"), [
        user_event("2024-06-01 10:04:00", "U1", 2.0),
        user_event("2024-06-01 12:00:00", "FILL", 0.0),
    ])
    write_file(str(src / "f3.json"), [user_event("2024-06-01 09:00:00", "LATE", 99.0)])
    os.utime(str(src / "f1.json"), (1, 1))
    os.utime(str(src / "f2.json"), (100, 100))

    def sliding(df):
        return (
            df.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "user_id",
                    "n_events", "total_value")
        )

    q = (
        sliding(user_stream(spark, src))
        .writeStream.outputMode("update")
        .foreachBatch(keyed_upsert_parquet(str(out), ["window_start", "user_id"]))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)

    streamed = {
        (str(r.window_start), r.user_id, r.n_events, r.total_value)
        for r in spark.read.parquet(str(out)).collect()
    }
    # batch golden over the KEPT events (late one excluded by the watermark)
    kept = spark.createDataFrame(
        [("U1", "2024-06-01 10:02:00", 1.0), ("U1", "2024-06-01 10:04:00", 2.0),
         ("FILL", "2024-06-01 12:00:00", 0.0)],
        "user_id string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    golden = {
        (str(r.window_start), r.user_id, r.n_events, r.total_value)
        for r in sliding(kept).collect()
    }
    assert streamed == golden
    # U1's two windows (9:55, 10:00) each saw the batch-2 revision: n=2
    assert {(w, n) for w, u, n, _ in streamed if u == "U1"} == {
        ("2024-06-01 09:55:00", 2), ("2024-06-01 10:00:00", 2),
    }


@pytest.mark.parametrize("dedup_within", [True])
def test_drop_duplicates_within_watermark(spark, tmp_path, dedup_within):
    """dropDuplicatesWithinWatermark on a replayed stream: duplicate event
    ids within the watermark horizon collapse to one."""
    src = tmp_path / "dd_in"
    ckpt = tmp_path / "dd_ckpt"
    src.mkdir()
    line = json.dumps({"value": json.dumps({"event_time": "2024-06-01 10:00:05",
                                            "location": "LOC_A", "new_cases": 10,
                                            "total_cases": 100})})
    write_file(str(src / "dup.json"), [line, line, line])

    source = file_stream_source(str(src))
    parsed = Pipeline(source=source, transforms=[parse_events]).dataframe(spark)
    deduped = parsed.withWatermark("event_time", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_time", "location"]
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)
    assert spark.sql("SELECT COUNT(*) AS n FROM dd_out").collect()[0].n == 1
