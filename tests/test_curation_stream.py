"""Streaming curation golden test: replay a document log through
``curate_document_stream`` in micro-batches and pin (a) cross-batch
fingerprint dedup, (b) quality floor, (c) redaction, (d) set-equivalence
with the batch ``curate_corpus`` on the same input (same distinct texts
survive; representative id may differ by dedup policy — batch keeps
min-id, the stream keeps first-seen)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.curation import curate_corpus
from data_pipeline_with_spark_kafka_spark.streaming.curation_stream import (
    curate_document_stream,
)
from data_pipeline_with_spark_kafka_spark.streaming.sinks import keyed_upsert_parquet
from tests.test_streaming import run_to_completion

DOC_SCHEMA = "doc_id long, ingest_ts timestamp, lang string, text string"

GOOD = "the quick brown customer table joins the fast filter pipeline " * 3
ALSO_GOOD = "window functions rank every partition of the sorted stream " * 3
LOW_Q = "a a a"  # fails the quality floor


def doc(doc_id: int, minute: int, lang: str, text: str) -> str:
    return json.dumps(
        {
            "doc_id": doc_id,
            "ingest_ts": f"2024-06-01 10:{minute:02d}:00",
            "lang": lang,
            "text": text,
        }
    )


def test_stream_curation_matches_batch_on_same_log(spark, tmp_path):
    src = tmp_path / "docs_in"
    os.makedirs(src)
    # batch 1: two good docs + a low-quality one
    with open(src / "b1.json", "w") as f:
        f.write("\n".join([doc(1, 0, "en", GOOD), doc(2, 1, "en", ALSO_GOOD), doc(3, 2, "en", LOW_Q)]) + "\n")
    # batch 2: an exact duplicate of doc 1 (same text, later id) + a new doc
    with open(src / "b2.json", "w") as f:
        f.write("\n".join([doc(10, 3, "en", GOOD), doc(11, 4, "de", GOOD + " extra tail tokens")]) + "\n")

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    curated = curate_document_stream(stream, min_quality=0.5, watermark="10 minutes")
    target = str(tmp_path / "curated_stream")
    q = (
        curated.writeStream.foreachBatch(keyed_upsert_parquet(target, ["fingerprint"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)

    out = spark.read.parquet(target)
    rows = out.collect()
    # Dedup across batches: doc 10 (duplicate text of doc 1) dropped; low-Q
    # doc 3 filtered. Survivors: docs 1, 2, 11.
    assert {r.doc_id for r in rows} == {1, 2, 11}
    assert out.filter(F.col("quality") < 0.5).count() == 0
    assert out.select("fingerprint").distinct().count() == len(rows)

    # Set-equivalence with the batch pipeline on the same log (compare on
    # content fingerprint + lang + quality; batch picks min-id keepers, so
    # ids agree here where first-seen == min-id).
    batch_in = spark.read.schema(DOC_SCHEMA).json(str(src)).drop("ingest_ts")
    batch_out = curate_corpus(batch_in, min_quality=0.5)
    batch_set = {
        (r.lang, r.quality, r.text) for r in batch_out.collect()
    }
    stream_set = {(r.lang, r.quality, r.text) for r in rows}
    assert stream_set == batch_set
