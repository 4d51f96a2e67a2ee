"""Tests for the keyed parquet ledger sink, ``sinks.keyed_upsert_parquet``,
the writer behind ``rfm_stream.run_rfm_ledger_parquet``: exactly one row
per key, latest write wins, replay-idempotent. The callback is driven
directly (as foreachBatch would) so batches, replays and crash points
are scriptable.
"""

from __future__ import annotations

import os

import pytest

from data_pipeline_with_spark_kafka_spark.streaming.sinks import keyed_upsert_parquet

SCHEMA = "k long, val string, n long"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snapshot(spark, target):
    rows = spark.read.parquet(str(target)).collect()
    assert len(rows) == len({r["k"] for r in rows})
    return {r["k"]: (r["val"], r["n"]) for r in rows}


def test_ledger_empty_batch_noop(spark, tmp_path):
    target = tmp_path / "ledger"
    sink = keyed_upsert_parquet(str(target), ["k"])
    sink(_df(spark, [(1, "a", 1)]), 0)
    snap, files = _snapshot(spark, target), sorted(os.listdir(target))
    sink(_df(spark, []), 1)
    assert _snapshot(spark, target) == snap
    assert sorted(os.listdir(target)) == files  # nothing rewritten
    assert sorted(os.listdir(tmp_path)) == ["ledger"]


def test_ledger_crash_leftovers_are_swept_on_replay(spark, tmp_path, monkeypatch):
    """A crash after the merged output is written but before it is
    renamed in leaves a ``.tmp-*`` sibling; replaying the epoch sweeps it
    and the ledger reads the same rows as a crash-free run."""
    target, clean = tmp_path / "ledger", tmp_path / "clean"
    batches = [_df(spark, [(1, "a", 1), (2, "b", 1)]), _df(spark, [(2, "b2", 2), (3, "c", 1)])]
    sink = keyed_upsert_parquet(str(target), ["k"])
    reference = keyed_upsert_parquet(str(clean), ["k"])
    for epoch, batch in enumerate(batches):
        reference(batch, epoch)
    sink(batches[0], 0)

    def leftovers():
        return sorted(d for d in os.listdir(tmp_path) if ".tmp-" in d or ".old-" in d)

    real_rename = os.rename

    def crash(src, dst):
        if ".tmp-" in os.fspath(src):
            raise OSError("injected crash before the rename")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError, match="injected"):
        sink(batches[1], 1)
    monkeypatch.setattr(os, "rename", real_rename)
    assert len(leftovers()) == 1
    assert _snapshot(spark, target) == {1: ("a", 1), 2: ("b", 1)}  # old ledger kept
    sink(batches[1], 1)  # replayed epoch
    assert leftovers() == []
    assert _snapshot(spark, target) == _snapshot(spark, clean) == {
        1: ("a", 1), 2: ("b2", 2), 3: ("c", 1),
    }
