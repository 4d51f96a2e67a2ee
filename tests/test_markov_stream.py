"""Streaming Markov transitions: cross-batch pair recovery, batch-query
equality under in-order delivery, restart recovery, idle eviction."""

from __future__ import annotations

import json
import os

from data_pipeline_with_spark_kafka_spark.streaming.markov_stream import (
    transitions_stream,
)
from tests.test_streaming import run_to_completion

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _line(event_id, ts, user_id, etype, value=0.0):
    return (
        json.dumps(
            {
                "event_id": event_id,
                "ts": ts,
                "user_id": user_id,
                "event_type": etype,
                "value": value,
            }
        )
        + "\n"
    )


def _run(spark, src, ckpt, **kw):
    emitted = []

    def collect(df, epoch):
        emitted.extend(
            (r.user_id, r.prev_type, r.next_type) for r in df.collect()
        )

    raw = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        transitions_stream(raw, **kw)
        .writeStream.outputMode("update")
        .foreachBatch(collect)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)
    return emitted


def test_markov_stream_cross_batch_pairs(spark, tmp_path):
    """The pair a user forms ACROSS micro-batches comes from carried
    state; single-event users emit nothing."""
    src = tmp_path / "mk_in"
    ckpt = tmp_path / "mk_ck"
    src.mkdir()
    (src / "f1.json").write_text(
        _line(1, "2024-06-01 10:00:00", 1, "view")
        + _line(10, "2024-06-01 10:00:00", 2, "purchase")
    )
    (src / "f2.json").write_text(
        _line(2, "2024-06-01 10:05:00", 1, "click")
        + _line(3, "2024-06-01 10:06:00", 1, "click")
    )
    for i, f in enumerate(["f1.json", "f2.json"]):
        os.utime(src / f, (i + 1, i + 1))
    emitted = _run(spark, src, ckpt)
    assert sorted(emitted) == [
        (1, "view", "click"),
        (1, "click", "click"),
    ] or sorted(emitted) == sorted(
        [(1, "view", "click"), (1, "click", "click")]
    )
    assert all(u != 2 for u, _, _ in emitted)  # lone event -> no pair


def test_markov_stream_equals_batch_query(spark, tmp_path):
    """In-order delivery: the folded transition counts equal the batch
    query's n_transitions for every pair (the additive-IVM claim)."""
    import pandas as pd

    from data_pipeline_with_spark_kafka_spark.queries import all_queries

    rows = [
        (1, "2024-03-01 10:00:00", 1, "view"),
        (2, "2024-03-01 11:00:00", 1, "click"),
        (3, "2024-03-01 12:00:00", 1, "purchase"),
        (4, "2024-03-01 10:30:00", 2, "view"),
        (5, "2024-03-01 10:45:00", 2, "view"),
        (6, "2024-03-02 09:00:00", 2, "click"),
        (7, "2024-03-01 08:00:00", 3, "purchase"),
        (8, "2024-03-05 08:00:00", 3, "view"),
        (9, "2024-03-01 23:00:00", 4, "signup"),
    ]
    src = tmp_path / "eq_in"
    ckpt = tmp_path / "eq_ck"
    src.mkdir()
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    third = (len(ordered) + 2) // 3
    for i in range(3):
        chunk = ordered[i * third:(i + 1) * third]
        (src / f"f{i}.json").write_text("".join(_line(*r) for r in chunk))
        os.utime(src / f"f{i}.json", (i + 1, i + 1))
    emitted = _run(spark, src, ckpt)
    from collections import Counter

    stream_counts = Counter((p, n) for _, p, n in emitted)

    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["value"] = 0.0
    pdf["props"] = "{}"
    pdf.to_parquet(tmp_path / "events.parquet", index=False)
    batch = {
        (r.prev_type, r.next_type): r.n_transitions
        for r in all_queries()["events_markov_transitions"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert batch == dict(stream_counts)


def test_markov_stream_survives_restart(spark, tmp_path):
    """A pair spanning a RESTART still emits: the carried last-event
    state recovers from the checkpoint."""
    src = tmp_path / "rs_in"
    ckpt = tmp_path / "rs_ck"
    src.mkdir()
    (src / "f1.json").write_text(_line(1, "2024-06-01 10:00:00", 1, "view"))
    os.utime(src / "f1.json", (1, 1))
    first = _run(spark, src, ckpt)
    assert first == []

    (src / "f2.json").write_text(_line(2, "2024-06-01 10:30:00", 1, "purchase"))
    os.utime(src / "f2.json", (2, 2))
    second = _run(spark, src, ckpt)
    assert second == [(1, "view", "purchase")]


def test_markov_stream_idle_eviction_drops_spanning_pair(spark, tmp_path):
    """Documented bounded-state trade: a gap longer than idle_horizon
    evicts the carried event, so the spanning transition is NOT emitted
    (the batch query over full history is the reconciliation pass)."""
    src = tmp_path / "ev_in"
    ckpt = tmp_path / "ev_ck"
    src.mkdir()
    (src / "f1.json").write_text(_line(1, "2024-06-01 10:00:00", 1, "view"))
    # Another user's activity 10 days later advances the watermark past
    # user 1's last event + 2-day horizon -> state evicted.
    (src / "f2.json").write_text(_line(2, "2024-06-11 10:00:00", 2, "view"))
    (src / "f3.json").write_text(_line(3, "2024-06-11 10:00:02", 2, "view"))
    (src / "f4.json").write_text(_line(4, "2024-06-11 10:00:04", 1, "click"))
    for i, f in enumerate(["f1.json", "f2.json", "f3.json", "f4.json"]):
        os.utime(src / f, (i + 1, i + 1))
    emitted = _run(
        spark, src, ckpt, idle_horizon="2 days", watermark="1 second"
    )
    # user 2's own pair emits; user 1's view->click spans the evicted gap.
    assert sorted(emitted) == [(2, "view", "view")]


def test_markov_stream_ledger_fold(spark, tmp_path):
    """run_transition_counts maintains the additive matrix dict."""
    from data_pipeline_with_spark_kafka_spark.streaming.markov_stream import (
        run_transition_counts,
    )

    src = tmp_path / "ld_in"
    src.mkdir()
    (src / "f1.json").write_text(
        _line(1, "2024-06-01 10:00:00", 1, "view")
        + _line(2, "2024-06-01 10:01:00", 1, "view")
        + _line(3, "2024-06-01 10:02:00", 1, "click")
    )
    raw = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    counts: dict = {}
    run_transition_counts(
        transitions_stream(raw), str(tmp_path / "ld_ck"), counts
    )
    assert counts == {("view", "view"): 1, ("view", "click"): 1}
