"""Streaming quality gate: clean micro-batches land in accept/, a batch
violating any constraint lands WHOLE in quarantine/ (epoch preserved for
replay-after-fix)."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.quality_checks import Check
from data_pipeline_with_spark_kafka_spark.streaming.quality_gate import (
    quality_gated_batch_handler,
)

CHECKS = [
    Check("not_null", "k"),
    Check("in_range", "v", lo=0.0, hi=100.0),
]


def test_streaming_gate_routes_batches(spark, tmp_path):
    src = tmp_path / "gate_src"
    src.mkdir()
    clean = [{"k": i, "v": float(i)} for i in range(10)]
    dirty = [{"k": 100, "v": 5.0}, {"k": None, "v": 999.0}]
    (src / "b0.json").write_text("\n".join(json.dumps(r) for r in clean))
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in dirty))

    audit: list = []
    handler = quality_gated_batch_handler(
        CHECKS, str(tmp_path / "accept"), str(tmp_path / "quarantine"), audit=audit
    )
    stream = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        if q.isActive:
            q.stop()
        deadline = time.time() + 30
        while q.isActive and time.time() < deadline:
            time.sleep(0.2)

    accepted = spark.read.parquet(str(tmp_path / "accept"))
    quarantined = spark.read.parquet(str(tmp_path / "quarantine"))
    assert accepted.count() == 10
    assert accepted.filter(F.col("k").isNull() | (F.col("v") > 100)).count() == 0
    # the dirty batch arrives WHOLE — including its clean row
    assert quarantined.count() == 2
    assert len(audit) == 2
    by_pass = {ok: metrics for _bid, ok, metrics in audit}
    assert by_pass[False]["not_null(k)"] == 1
    assert by_pass[False]["in_range(v)"] == 1
    assert all(m == 0 for m in by_pass[True].values())


def test_gate_replayed_epoch_lands_once(spark, tmp_path):
    """At-least-once foreachBatch delivers an epoch again after a crash
    before its commit: the replay replaces that epoch's output instead
    of appending a second copy."""
    accept = str(tmp_path / "accept")
    handler = quality_gated_batch_handler(CHECKS, accept, str(tmp_path / "quarantine"))
    batch = spark.createDataFrame([(i, float(i)) for i in range(5)], "k long, v double")
    handler(batch, 7)
    handler(batch, 7)  # replayed epoch
    assert spark.read.parquet(accept).count() == 5
