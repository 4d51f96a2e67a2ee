"""Streaming incremental dedup: a doc stream admitted against a static
corpus — corpus-known content dropped, in-stream duplicates dropped, and
the surviving set equals the batch operator on the same log."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.incremental import incremental_novel
from data_pipeline_with_spark_kafka_spark.streaming.incremental_stream import (
    novel_document_stream,
)
from tests.test_streaming import run_to_completion

DOC_SCHEMA = "doc_id long, ingest_ts timestamp, text string"

KNOWN_A = "alpha beta gamma delta epsilon"
KNOWN_B = "zeta eta theta iota kappa"
NEW_X = "lambda mu nu xi omicron"
NEW_Y = "pi rho sigma tau upsilon"


def doc(doc_id: int, minute: int, text: str) -> str:
    return json.dumps(
        {"doc_id": doc_id, "ingest_ts": f"2024-06-01 10:{minute:02d}:00", "text": text}
    )


def test_stream_admits_only_novel_and_matches_batch(spark, tmp_path):
    known = spark.createDataFrame(
        [(100, KNOWN_A), (101, KNOWN_B)], "doc_id long, text string"
    )
    src = tmp_path / "inc_in"
    os.makedirs(src)
    # batch 1: one corpus-known doc + one novel
    with open(src / "b1.json", "w") as f:
        f.write("\n".join([doc(1, 0, KNOWN_A), doc(2, 1, NEW_X)]) + "\n")
    # batch 2: in-stream duplicate of the novel doc + another novel +
    # another corpus-known
    with open(src / "b2.json", "w") as f:
        f.write("\n".join([doc(3, 2, NEW_X), doc(4, 3, NEW_Y), doc(5, 4, KNOWN_B)]) + "\n")

    stream = (
        spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))
    )
    novel = novel_document_stream(stream, known, watermark="10 minutes")
    q = (
        novel.writeStream.format("memory")
        .queryName("inc_novel_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)
    rows = spark.sql("SELECT doc_id, text FROM inc_novel_out").collect()
    # corpus-known (1, 5) dropped; in-stream dup (3) dropped; novel kept.
    assert {r.doc_id for r in rows} == {2, 4}
    assert {r.text for r in rows} == {NEW_X, NEW_Y}

    # Same surviving CONTENT as the batch operator on the same log.
    batch = spark.createDataFrame(
        [(1, KNOWN_A), (2, NEW_X), (3, NEW_X), (4, NEW_Y), (5, KNOWN_B)],
        "doc_id long, text string",
    )
    batch_novel = incremental_novel(batch, known, "doc_id", "text")
    assert {r.text for r in batch_novel.collect()} == {r.text for r in rows}


def test_rejects_swapped_sides(spark, tmp_path):
    import pytest

    static = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    src = tmp_path / "swap_in"
    os.makedirs(src)
    with open(src / "b.json", "w") as f:
        f.write(doc(1, 0, "x") + "\n")
    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    with pytest.raises(ValueError, match="must be a streaming"):
        novel_document_stream(static, static)
    with pytest.raises(ValueError, match="must be a static"):
        novel_document_stream(stream, stream)
