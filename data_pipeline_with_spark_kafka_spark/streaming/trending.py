"""Streaming trending items: per-window top-k over an unbounded item
domain, with bounded state (Misra-Gries counters) and watermark eviction.

Built-in streaming aggregation can count ``(window, item)`` pairs, but
its state grows with the DOMAIN (every distinct item in every open
window stays in the state store) and "top-k per window, updated every
trigger" is not expressible in update mode. This operator keeps ONE
bounded Misra-Gries summary per event-time window instead
(``applyInPandasWithState``, same batch-wise merge-and-shrink as the
batch sketch in operators/sketches.py):

- state per window = at most ``k-1`` (item, count) pairs + the window's
  event count — O(k) whatever the domain;
- every trigger emits the window's current top-``top`` (update mode);
- when the watermark passes ``window_end + grace``, the group times out:
  one last emission flagged ``is_final`` and the state is removed —
  state rows are bounded by the number of OPEN windows, not stream
  length (the eviction contract tests/test_trending.py pins).

Counts are Misra-Gries lower bounds (undercount <= n_window/k);
``k = 2 * top`` by default keeps ranks stable for the reported head.
Scale note: one window = one state group = one task. That is the point
(the summary is the bounded thing), but a single hot window's raw
events all flow through that task — for multi-GB/s streams, shard the
key to ``(window, hash(item) % S)`` upstream and merge the S summaries
downstream; the MG merge used here is exactly the mergeable-summaries
operation that makes that correct.

No counterpart in the 319-LoC reference (its streaming agg is a plain
windowed sum — ``spark_consumer_kafka.py:113-127``); [EXT] surface.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from data_pipeline_with_spark_kafka_spark.streaming.attribution_stream import (
    _duration_ms,
)

STATE_SCHEMA = "items array<string>, counts array<long>, n long"
OUTPUT_SCHEMA = (
    "window_start timestamp, item string, est_cnt long, rank int, is_final boolean"
)


def _shrink(counters: dict[str, int], k: int) -> dict[str, int]:
    if len(counters) <= k - 1:
        return counters
    vals = sorted(counters.values(), reverse=True)
    sub = vals[k - 1]
    return {i: c - sub for i, c in counters.items() if c > sub}


def _top_frame(window_start, counters: dict[str, int], n: int, top: int, final: bool):
    head = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))[:top]
    return pd.DataFrame(
        {
            "window_start": [window_start] * len(head),
            "item": [i for i, _ in head],
            "est_cnt": [c for _, c in head],
            "rank": list(range(1, len(head) + 1)),
            "is_final": [final] * len(head),
        }
    )


def _make_update(k: int, top: int, window_ms: int, grace_ms: int):
    def update(
        key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (window_start,) = key
        if state.hasTimedOut:
            items, counts, n = state.get
            state.remove()
            yield _top_frame(window_start, dict(zip(items, counts)), n, top, True)
            return
        counters: dict[str, int] = {}
        n = 0
        if state.exists:
            items, counts, n = state.get
            counters = dict(zip(items, counts))
        for pdf in batches:
            vc = pdf["item"].dropna().value_counts()
            n += int(vc.sum())
            for item, c in vc.items():
                counters[item] = counters.get(item, 0) + int(c)
            counters = _shrink(counters, k)
        state.update((list(counters.keys()), [int(c) for c in counters.values()], n))
        # Evict once the watermark passes the window close + grace (the
        # timeout timestamp must sit strictly past the current watermark,
        # so a window whose close the watermark already passed fires on
        # the next watermark advance).
        close_ms = int(pd.Timestamp(window_start).timestamp() * 1000) + window_ms + grace_ms
        state.setTimeoutTimestamp(max(close_ms, state.getCurrentWatermarkMs() + 1))
        yield _top_frame(window_start, counters, n, top, False)

    return update


def trending_items(
    events: DataFrame,
    *,
    item_col: str,
    time_col: str,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
    top: int = 10,
    k: int | None = None,
    grace_ms: int = 1,
) -> DataFrame:
    """Update-mode stream of each event-time window's current top-``top``
    items. ``grace_ms`` pads the eviction timestamp past the window close;
    the timeout fires once the watermark advances beyond it (late rows
    inside the watermark still land first)."""
    window_ms = _duration_ms(window)
    k = k if k is not None else max(2 * top, 2)
    keyed = (
        events.withWatermark(time_col, watermark)
        # The watermarked event-time column must survive the projection —
        # event-time timeout requires a watermark-tagged column on the
        # relation feeding applyInPandasWithState (window.start alone
        # loses the tag).
        .select(
            F.window(F.col(time_col), window).start.alias("window_start"),
            F.col(item_col).alias("item"),
            F.col(time_col),
        )
        .groupBy("window_start")
    )
    return keyed.applyInPandasWithState(
        _make_update(k, top, window_ms, grace_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
