"""Continuous near-dup ingest: corpus-known, near-known, within-batch,
and cross-batch content all rejected; index grows with admissions; a
replayed/crashed epoch converges to the clean-run state."""

from __future__ import annotations

import json
import os
import time

import pytest

from data_pipeline_with_spark_kafka_spark.streaming.near_dup_ingest import (
    BASE_EPOCH,
    NearDupIngest,
)
from tests.test_streaming import run_to_completion

DOC_SCHEMA = "doc_id long, text string"

CORPUS_A = "a b c d e f g h i j"
CORPUS_B = "k l m n o p q r s t"
NEAR_A = "a b c d e f g h i j k"  # J = 8/9 = 0.888 vs CORPUS_A
NOVEL_X = "u v w x y z aa bb cc dd"
NEAR_X = "u v w x y z aa bb cc dd ee"  # near-dup of X (admitted in batch 1)
NOVEL_Y = "ff gg hh ii jj kk ll mm nn oo"
NOVEL_Z = "pp qq rr ss tt uu vv ww xx yy"


def _write_file(path, rows, mtime):
    with open(path, "w") as f:
        f.write("\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows))
    os.utime(path, (mtime, mtime))  # file source orders by mtime — pin it


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame([(100, CORPUS_A), (101, CORPUS_B)], DOC_SCHEMA)


def test_stream_rejects_known_near_and_cross_batch(spark, tmp_path, corpus):
    sink = NearDupIngest.initialize(
        corpus, str(tmp_path / "index"), str(tmp_path / "admitted")
    )
    src = tmp_path / "in"
    os.makedirs(src)
    now = time.time()
    # batch 1: exact corpus dup, near corpus dup, novel X (+ exact dup of
    # X within the batch), novel Y
    _write_file(
        src / "b1.json",
        [(1, CORPUS_A), (2, NEAR_A), (3, NOVEL_X), (4, NOVEL_X), (5, NOVEL_Y)],
        now - 20,
    )
    # batch 2: near-dup of X (admitted in batch 1!), exact dup of Y, novel Z
    _write_file(src / "b2.json", [(6, NEAR_X), (7, NOVEL_Y), (8, NOVEL_Z)], now - 10)

    q = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)

    admitted = {r["doc_id"]: r["text"] for r in sink.admitted(spark).collect()}
    # doc 3 keeps X (min-id within batch), 5 keeps Y, 8 keeps Z; everything
    # else is an exact / near / cross-batch duplicate
    assert admitted == {3: NOVEL_X, 5: NOVEL_Y, 8: NOVEL_Z}

    # the index grew: fps has base + both epochs' admissions
    fps = spark.read.parquet(str(tmp_path / "index" / "fps"))
    assert fps.filter(f"epoch = {BASE_EPOCH}").count() == 2
    assert fps.filter("epoch >= 0").count() == 3


def test_replayed_epoch_is_idempotent(spark, tmp_path, corpus):
    sink = NearDupIngest.initialize(
        corpus, str(tmp_path / "index"), str(tmp_path / "admitted")
    )
    batch = spark.createDataFrame([(1, NOVEL_X), (2, NOVEL_Y)], DOC_SCHEMA)
    sink(batch, 0)
    first = sorted(r["doc_id"] for r in sink.admitted(spark).collect())
    sink(batch, 0)  # replay: must not self-reject or double-append
    second = sorted(r["doc_id"] for r in sink.admitted(spark).collect())
    assert first == second == [1, 2]


def test_crash_between_index_writes_converges_on_replay(spark, tmp_path, corpus):
    """Kill the epoch write after fps+bands land but before sets/admitted:
    the replay must produce exactly the clean-run state."""
    sink = NearDupIngest.initialize(
        corpus, str(tmp_path / "index"), str(tmp_path / "admitted")
    )
    batch = spark.createDataFrame([(1, NOVEL_X), (2, NOVEL_Y)], DOC_SCHEMA)

    real_write = sink._write_epoch
    calls = {"n": 0}

    def crashing_write(epoch_id, *, fps, bands, sets, admitted):
        fps.write.mode("overwrite").parquet(
            os.path.join(sink.index_dir, "fps", f"epoch={epoch_id}")
        )
        bands.write.mode("overwrite").parquet(
            os.path.join(sink.index_dir, "bands", f"epoch={epoch_id}")
        )
        calls["n"] += 1
        raise RuntimeError("injected crash between index writes")

    sink._write_epoch = crashing_write
    with pytest.raises(RuntimeError, match="injected crash"):
        sink(batch, 0)
    assert calls["n"] == 1
    sink._write_epoch = real_write

    sink(batch, 0)  # micro-batch replay after restart
    admitted = sorted(r["doc_id"] for r in sink.admitted(spark).collect())
    assert admitted == [1, 2]
    # a later batch still dedups against the replayed epoch's admissions
    sink(spark.createDataFrame([(9, NEAR_X), (10, NOVEL_Z)], DOC_SCHEMA), 1)
    final = sorted(r["doc_id"] for r in sink.admitted(spark).collect())
    assert final == [1, 2, 10]
