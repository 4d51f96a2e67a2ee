"""Streaming trending items: per-window top-k across micro-batches,
bounded Misra-Gries state, and watermark eviction (is_final emission)."""

from __future__ import annotations

import json
import os

from data_pipeline_with_spark_kafka_spark.streaming.trending import trending_items
from tests.test_streaming import run_to_completion


def _line(ts: str, item: str) -> str:
    return json.dumps({"ts": ts, "item": item}) + "\n"


def _run(spark, src, ckpt, **kw):
    emitted = []

    def collect(df, epoch):
        emitted.extend(
            (epoch, str(r.window_start), r.item, r.est_cnt, r.rank, r.is_final)
            for r in df.collect()
        )

    raw = (
        spark.readStream.schema("ts timestamp, item string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        trending_items(raw, item_col="item", time_col="ts", **kw)
        .writeStream.outputMode("update")
        .foreachBatch(collect)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)
    return emitted


def test_trending_topk_accumulates_and_evicts(spark, tmp_path):
    src = tmp_path / "tr_in"
    ckpt = tmp_path / "tr_ck"
    src.mkdir()
    w1 = "2024-06-01 10:0{m}:00"
    # Batch 0: window 10:00 sees a x3, b x2, c x1.
    (src / "f1.json").write_text(
        _line(w1.format(m=0), "a") + _line(w1.format(m=1), "a") + _line(w1.format(m=2), "a")
        + _line(w1.format(m=3), "b") + _line(w1.format(m=4), "b") + _line(w1.format(m=5), "c")
    )
    # Batch 1: two more a's for window 10:00 (inside the watermark) plus a
    # second window at 10:20 — its max ts drives the watermark past the
    # first window's close.
    (src / "f2.json").write_text(
        _line("2024-06-01 10:05:30", "a") + _line("2024-06-01 10:05:31", "a")
        + _line("2024-06-01 10:25:00", "d") + _line("2024-06-01 10:25:01", "d")
    )
    # Batch 2: advances processing; the batch-1 watermark evicts window 1.
    (src / "f3.json").write_text(_line("2024-06-01 10:40:00", "e"))
    for i, f in enumerate(["f1.json", "f2.json", "f3.json"]):
        os.utime(src / f, (i + 1, i + 1))

    emitted = _run(spark, src, ckpt, window="10 minutes", watermark="10 seconds", top=3)

    by_epoch = {}
    for e, ws, item, cnt, rank, final in emitted:
        by_epoch.setdefault(e, {})[(ws, item)] = (cnt, rank, final)

    w1k = "2024-06-01 10:00:00"
    w2k = "2024-06-01 10:20:00"
    # Epoch 0: exact ranked counts for window 1 (domain < k => MG exact).
    assert by_epoch[0][(w1k, "a")] == (3, 1, False)
    assert by_epoch[0][(w1k, "b")] == (2, 2, False)
    assert by_epoch[0][(w1k, "c")] == (1, 3, False)
    # Epoch 1: window 1 accumulated a=5 across batches; window 2 opened.
    assert by_epoch[1][(w1k, "a")] == (5, 1, False)
    assert by_epoch[1][(w2k, "d")] == (2, 1, False)
    # Eviction: a later epoch carries window 1's final top-k snapshot.
    finals = {
        (ws, item): (cnt, rank)
        for e, per in by_epoch.items()
        for (ws, item), (cnt, rank, final) in per.items()
        if final
    }
    assert finals[(w1k, "a")] == (5, 1)
    assert finals[(w1k, "b")] == (2, 2)
    # Window 2's close (10:30) is passed by the final watermark (10:39:50,
    # from f3's 10:40 event): finalized too.
    assert finals[(w2k, "d")] == (2, 1)
    # Window 3 (10:40, close 10:50) is still open at the final watermark:
    # emitted update-mode only, never finalized.
    assert ("2024-06-01 10:40:00", "e") not in finals
    assert any(
        ws == "2024-06-01 10:40:00" and item == "e" and not final
        for _e, ws, item, _c, _r, final in emitted
    )


def test_trending_survives_restart(spark, tmp_path):
    """A second run against the same checkpoint resumes the per-window
    counters instead of recounting from zero."""
    src = tmp_path / "rs_in"
    ckpt = tmp_path / "rs_ck"
    src.mkdir()
    (src / "f1.json").write_text(
        _line("2024-06-01 10:00:00", "a") + _line("2024-06-01 10:01:00", "a")
    )
    os.utime(src / "f1.json", (1, 1))
    first = _run(spark, src, ckpt, window="10 minutes", watermark="10 seconds", top=2)
    assert ("2024-06-01 10:00:00", "a", 2) in {(ws, i, c) for _e, ws, i, c, _r, _f in first}

    (src / "f2.json").write_text(
        _line("2024-06-01 10:02:00", "a") + _line("2024-06-01 10:03:00", "b")
    )
    os.utime(src / "f2.json", (2, 2))
    second = _run(spark, src, ckpt, window="10 minutes", watermark="10 seconds", top=2)
    got = {(ws, i): c for _e, ws, i, c, _r, _f in second}
    assert got[("2024-06-01 10:00:00", "a")] == 3  # 2 recovered + 1 new
    assert got[("2024-06-01 10:00:00", "b")] == 1


def test_trending_bounded_state_truncates_tail(spark, tmp_path):
    """More distinct items than k: the state keeps <= k-1 counters and the
    reported head is still the true top (heavy items dominate)."""
    src = tmp_path / "tb_in"
    ckpt = tmp_path / "tb_ck"
    src.mkdir()
    lines = []
    for i in range(40):  # heavy: h0 x 30, h1 x 20; tail: 40 singletons
        lines.append(_line(f"2024-06-01 10:00:{i:02d}", f"t{i}"))
    lines += [_line("2024-06-01 10:01:00", "h0")] * 30
    lines += [_line("2024-06-01 10:02:00", "h1")] * 20
    (src / "f1.json").write_text("".join(lines))
    os.utime(src / "f1.json", (1, 1))

    emitted = _run(
        spark, src, ckpt, window="10 minutes", watermark="10 seconds", top=2, k=10
    )
    head = sorted(
        [(item, cnt, rank) for _e, _ws, item, cnt, rank, _f in emitted],
        key=lambda t: t[2],
    )
    assert [t[0] for t in head] == ["h0", "h1"]
    # MG lower bounds: within n/k of truth, never above it.
    n = 90
    assert 30 - n / 10 <= head[0][1] <= 30
    assert 20 - n / 10 <= head[1][1] <= 20
