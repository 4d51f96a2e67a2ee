"""Multi-sink fan-out from one computed micro-batch
(streaming/sinks.py fanout_sink)."""

from __future__ import annotations

import json

from data_pipeline_with_spark_kafka_spark.streaming.sinks import (
    fanout_sink,
    keyed_upsert_parquet,
)


def _write(path, rows):
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))


def test_fanout_delivers_identical_batch_to_every_sink(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write(
        str(src / "f1.json"),
        [
            {"k": "a", "v": 1.0},
            {"k": "b", "v": 2.0},
            {"k": "a", "v": 3.0},
        ],
    )

    archive = str(tmp_path / "archive")
    upserted = str(tmp_path / "upsert")
    seen_cached = []

    def archive_sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(archive)

    def probe_sink(batch_df, epoch_id):
        # by the time the 2nd+ sink runs, the batch must be cached —
        # that is the "computed once" guarantee.
        seen_cached.append(batch_df.storageLevel.useMemory)

    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            fanout_sink(archive_sink, probe_sink, keyed_upsert_parquet(upserted, ["k"]))
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    archived = {(r.k, r.v) for r in spark.read.parquet(archive).collect()}
    assert archived == {("a", 1.0), ("b", 2.0), ("a", 3.0)}
    # upsert sink keeps one row per key (batch-internal dedup keeps first)
    up = {r.k for r in spark.read.parquet(upserted).collect()}
    assert up == {"a", "b"}
    assert seen_cached and all(seen_cached)


def test_fanout_batch_stays_cached_after_upsert(spark, tmp_path):
    """The upsert caches and releases only its own deduplicated batch: the
    fan-out's batch must still be cached for the sinks after it."""
    src = tmp_path / "in3"
    src.mkdir()
    _write(str(src / "f1.json"), [{"k": "a", "v": 1.0}, {"k": "a", "v": 2.0}])
    upserted = str(tmp_path / "upsert3")
    seen_cached = []

    def probe_sink(batch_df, epoch_id):
        seen_cached.append(batch_df.storageLevel.useMemory)

    stream = spark.readStream.schema("k string, v double").json(str(src))
    q = (
        stream.writeStream.foreachBatch(
            fanout_sink(keyed_upsert_parquet(upserted, ["k"]), probe_sink)
        )
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert [r.k for r in spark.read.parquet(upserted).collect()] == ["a"]
    assert seen_cached == [True]


def test_fanout_unpersists_after_failure(spark, tmp_path):
    src = tmp_path / "in2"
    src.mkdir()
    _write(str(src / "f1.json"), [{"k": "a", "v": 1.0}])

    def boom(batch_df, epoch_id):
        raise RuntimeError("sink down")

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    stream = spark.readStream.schema("k string, v double").json(str(src))
    q = (
        stream.writeStream.foreachBatch(fanout_sink(boom))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    except Exception:
        pass
    # the failed epoch must not leak cached batches (session is shared
    # across tests, so compare against the pre-run count, not zero)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before
