"""Streaming sessionization twin (round 11): cross-batch session
continuation and gap splits, batch-query equality under in-order
delivery, lifetime seq continuity across state eviction, restart
recovery on the same checkpoint, and fresh-checkpoint replay
convergence."""

from __future__ import annotations

import json
import os

from data_pipeline_with_spark_kafka_spark.streaming.session_stream import (
    session_ids_stream,
)
from tests.test_streaming import run_to_completion

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _line(event_id, ts, user_id, etype="view", value=0.0):
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
    """Drive the stream; fold update-mode emissions keyed-upsert-style:
    latest row per (user_id, session_seq) is the session's truth."""
    table: dict = {}

    def collect(df, epoch):
        for r in df.collect():
            table[(r.user_id, r.session_seq)] = (
                r.n_events,
                r.session_start,
                r.session_end,
            )

    raw = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        session_ids_stream(raw, **kw)
        .writeStream.outputMode("update")
        .foreachBatch(collect)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)
    return table


def _mtimes(src, names):
    for i, f in enumerate(names):
        os.utime(src / f, (i + 1, i + 1))


def test_session_stream_cross_batch_merge_and_split(spark, tmp_path):
    src = tmp_path / "ss_in"
    ckpt = tmp_path / "ss_ck"
    src.mkdir()
    # Batch 0: user 1 two events 10 min apart (one session); user 2 one.
    (src / "f1.json").write_text(
        _line(101, "2024-06-01 10:00:00", 1)
        + _line(102, "2024-06-01 10:10:00", 1)
        + _line(201, "2024-06-01 10:00:00", 2)
    )
    # Batch 1: user 1 continues 20 min later (same session), then a
    # 31-min gap -> second session; user 2 exactly-30-min gap -> merges
    # (the batch twin's <= semantics).
    (src / "f2.json").write_text(
        _line(103, "2024-06-01 10:30:00", 1)
        + _line(104, "2024-06-01 11:01:00", 1)
        + _line(202, "2024-06-01 10:30:00", 2)
    )
    _mtimes(src, ["f1.json", "f2.json"])
    table = _run(spark, src, ckpt, watermark="1 second")
    assert {k: v[0] for k, v in table.items()} == {
        (1, 1): 3,
        (1, 2): 1,
        (2, 1): 2,
    }
    n, start, end = table[(1, 1)]
    assert str(start) == "2024-06-01 10:00:00" and str(end) == "2024-06-01 10:30:00"


def test_session_stream_equals_batch_query(spark, tmp_path, sf_dir):
    """In-order delivery => the folded stream table IS the batch
    ``events_session_ids`` result, lifetime session_seq included."""
    from data_pipeline_with_spark_kafka_spark.queries.events_analytics import (
        events_session_ids,
    )
    from data_pipeline_with_spark_kafka_spark.sources.tables import load_table

    events = (
        load_table(spark, str(sf_dir), "events")
        .filter("ts IS NOT NULL AND user_id IS NOT NULL")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    rows = sorted(events.collect(), key=lambda r: (r.ts, r.event_id))
    # stream side: 4 time-ordered json files
    src = tmp_path / "eq_in"
    src.mkdir()
    chunk = (len(rows) + 3) // 4
    names = []
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        (src / f"f{i}.json").write_text(
            "".join(
                _line(r.event_id, str(r.ts), r.user_id, r.event_type, r.value or 0.0)
                for r in part
            )
        )
        names.append(f"f{i}.json")
    _mtimes(src, names)
    table = _run(spark, src, tmp_path / "eq_ck", watermark="1 second")
    got = {
        (u, s): (n, str(st), str(en)) for (u, s), (n, st, en) in table.items()
    }
    # batch side on the SAME filtered relation
    root = tmp_path / "eq_parquet"
    events.write.parquet(str(root / "events.parquet"))
    exp = {
        (r.user_id, r.session_seq): (
            r.n_events,
            str(r.session_start),
            str(r.session_end),
        )
        for r in events_session_ids(spark, str(root)).collect()
    }
    assert got == exp


def test_session_stream_seq_survives_eviction(spark, tmp_path):
    """Once the watermark passes end + gap the state downgrades to the
    seq-cursor stub — a returning user's next session continues the
    LIFETIME numbering (the batch query's), not a restart at 1."""
    src = tmp_path / "ev_in"
    src.mkdir()
    (src / "f1.json").write_text(_line(101, "2024-06-01 10:00:00", 1))
    # other-user traffic advances the watermark far past 10:30 + gap
    (src / "f2.json").write_text(_line(901, "2024-06-02 10:00:00", 9))
    (src / "f3.json").write_text(_line(902, "2024-06-03 10:00:00", 9))
    # user 1 returns two days later
    (src / "f4.json").write_text(_line(102, "2024-06-03 10:00:01", 1))
    _mtimes(src, ["f1.json", "f2.json", "f3.json", "f4.json"])
    table = _run(spark, src, tmp_path / "ev_ck", watermark="1 second")
    user1 = sorted(s for (u, s) in table if u == 1)
    assert user1 == [1, 2]  # lifetime numbering survived the stub
    assert (9, 2) in table  # the watermark-driver user also split (1-day gaps)


def test_session_stream_restart_recovery(spark, tmp_path):
    """Stop after two files, resume on the SAME checkpoint: the folded
    table converges to the uninterrupted run's."""
    src = tmp_path / "rs_in"
    src.mkdir()
    files = {
        "f1.json": _line(101, "2024-06-01 10:00:00", 1),
        "f2.json": _line(102, "2024-06-01 10:10:00", 1)
        + _line(201, "2024-06-01 10:00:00", 2),
        "f3.json": _line(103, "2024-06-01 11:00:00", 1),
        "f4.json": _line(104, "2024-06-01 11:50:00", 1),
    }
    for name, content in files.items():
        (src / name).write_text(content)
    _mtimes(src, list(files))
    held = ["f3.json", "f4.json"]
    parked = tmp_path / "parked"
    parked.mkdir()
    for name in held:
        os.rename(src / name, parked / name)
    table = _run(spark, src, tmp_path / "rs_ck")
    for i, name in enumerate(held):
        os.rename(parked / name, src / name)
        os.utime(src / name, (10 + i, 10 + i))
    table.update(_run(spark, src, tmp_path / "rs_ck"))

    full_src = tmp_path / "rs_full"
    full_src.mkdir()
    for name, content in files.items():
        (full_src / name).write_text(content)
    _mtimes(full_src, list(files))
    full = _run(spark, full_src, tmp_path / "rs_full_ck")
    assert table == full
    # and the shape is right: 10:00-10:10 / 11:00 / 11:50 -> 3 sessions
    assert {s for (u, s) in full if u == 1} == {1, 2, 3}


def test_session_stream_replay_idempotent(spark, tmp_path):
    """Fresh-checkpoint replay over the same source converges to the
    same folded table (absolute per-session aggregates)."""
    src = tmp_path / "rp_in"
    src.mkdir()
    (src / "f1.json").write_text(
        _line(101, "2024-06-01 10:00:00", 1) + _line(201, "2024-06-01 10:00:00", 2)
    )
    (src / "f2.json").write_text(
        _line(102, "2024-06-01 10:40:00", 1) + _line(202, "2024-06-01 10:20:00", 2)
    )
    _mtimes(src, ["f1.json", "f2.json"])
    t1 = _run(spark, src, tmp_path / "rp_ck1")
    t2 = _run(spark, src, tmp_path / "rp_ck2")
    assert t1 == t2
    assert {k: v[0] for k, v in t1.items()} == {(1, 1): 1, (1, 2): 1, (2, 1): 2}


def test_session_stream_in_watermark_disorder_extends_start_backward(spark, tmp_path):
    """Round-12 advice fix: an out-of-order event still inside the
    watermark that merges into the open session must lower
    session_start (and count), matching the batch twin — not silently
    keep the at-arrival boundary."""
    src = tmp_path / "sd_in"
    ckpt = tmp_path / "sd_ck"
    src.mkdir()
    # Batch 0: user 1 session opens at 10:10.
    (src / "f1.json").write_text(_line(101, "2024-06-01 10:10:00", 1))
    # Batch 1: an EARLIER event (10:05) arrives late but within the huge
    # watermark -> merges, and the session must now start at 10:05.
    (src / "f2.json").write_text(_line(102, "2024-06-01 10:05:00", 1))
    _mtimes(src, ["f1.json", "f2.json"])
    table = _run(spark, src, ckpt, watermark="2 hours")
    assert len(table) == 1
    n_events, session_start, session_end = table[(1, 1)]
    assert n_events == 2
    assert session_start.strftime("%H:%M") == "10:05"
    assert session_end.strftime("%H:%M") == "10:10"
