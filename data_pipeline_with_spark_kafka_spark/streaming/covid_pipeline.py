"""The reference pipeline, rebuilt as one Structured Streaming query.

End-to-end parity with
``/root/reference/airflow_home/scripts/spark_consumer_kafka.py``:

| stage                      | reference        | here |
|----------------------------|------------------|------|
| Kafka source               | :55-62           | ``read_events(kafka_servers=...)``, or the file-stream stand-in ``read_events(input_dir=...)`` |
| value -> JSON parse        | :65-66 from_json | ``parse_events`` |
| conjunctive null filter    | :74              | ``parse_events`` |
| watermark                  | :78 (10 min)     | ``windowed_enrichment(watermark=...)`` |
| 1-min tumbling window aggs | :79-89           | ``windowed_enrichment`` (sum/avg/max/count) |
| window bound extraction    | :90-99           | idem |
| stream-static join         | :101-106         | broadcast dim join |
| derived per-million metric | :109-112,126     | DECIMAL(20,4) column |
| processing_time audit col  | :127             | ``windowed_enrichment(audit=True)`` (sink default) |
| sink                       | :131-157 (wart)  | idempotent keyed upsert (streaming/sinks.py) |
| query start + await        | :151-159         | ``run.cmd_consume``, the one ``writeStream`` (cached dim, update mode, 1-minute trigger on Kafka) |

The event payload mirrors the reference's covid schema
(``{"date","location","new_cases","total_cases"}``,
``kafka_producer.py:79-84``) with an added sub-minute event-time field so
1-minute windows are real (the reference's daily date strings collapse
every window to midnight — SURVEY.md §2.8 quirk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_with_spark_kafka_spark.sources.readers import (
    from_kafka_payload,
    kafka_connector_hint,
)

# Wire schema of one event message (explicit — never inferred on a stream).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.StringType()),  # ISO timestamp string
        T.StructField("location", T.StringType()),
        T.StructField("new_cases", T.IntegerType()),
        T.StructField("total_cases", T.IntegerType()),
    ]
)

DIM_SCHEMA = "location string, population long, continent string"


def read_events(
    spark: SparkSession,
    *,
    input_dir: str | None = None,
    kafka_servers: str | None = None,
    topic: str = "covid_data",
) -> DataFrame:
    """The raw event stream, one ``value`` per event. With
    ``kafka_servers``: the topic from its earliest offsets, tolerating
    data loss (spark_consumer_kafka.py:55-62). Otherwise the broker-less
    stand-in: a directory of JSON lines ``{"value": ...}`` replayed one
    file per micro-batch, so a file is a deterministic trigger."""
    if kafka_servers:
        with kafka_connector_hint(spark, "replay a file-stream dir (--input-dir) instead."):
            return (
                spark.readStream.format("kafka")
                .option("kafka.bootstrap.servers", kafka_servers)
                .option("subscribe", topic)
                .option("startingOffsets", "earliest")
                .option("failOnDataLoss", "false")
                .load()
            )
    return spark.readStream.schema("value string").option("maxFilesPerTrigger", 1).json(input_dir)


def parse_events(raw: DataFrame) -> DataFrame:
    """value(json, string or Kafka's binary) -> typed columns;
    malformed/missing -> dropped (the reference's drop-silently policy,
    made explicit here)."""
    return (
        from_kafka_payload(raw, EVENT_SCHEMA)
        .select(
            F.to_timestamp("event_time").alias("event_time"),
            "location",
            "new_cases",
            "total_cases",
        )
        .filter(
            F.col("event_time").isNotNull()
            & F.col("location").isNotNull()
            & F.col("new_cases").isNotNull()
        )
    )


def windowed_enrichment(
    dim: DataFrame,
    *,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    audit: bool = False,
) -> callable:
    """Transform: watermark -> tumbling window aggs -> broadcast dim join ->
    derived DECIMAL metric. Works identically on a streaming or batch input
    (batch ignores the watermark), which is what makes golden tests exact.

    ``audit=True`` appends the reference's ``processing_time`` audit column
    (``current_timestamp()``, spark_consumer_kafka.py:127) — wall-clock of
    the emitting micro-batch. Off by default: the column is nondeterministic
    by design, so golden/oracle comparisons exclude it while the production
    sink schema (``run.cmd_consume``) carries it."""

    def apply(parsed: DataFrame) -> DataFrame:
        agg = (
            parsed.withWatermark("event_time", watermark)
            .groupBy(F.window("event_time", window).alias("w"), "location")
            .agg(
                F.sum("new_cases").alias("total_new_cases_in_window"),
                F.avg("new_cases").alias("avg_new_cases_per_entry"),
                F.max("new_cases").alias("max_new_cases_in_window"),
                F.sum("total_cases").alias("total_cases_sum_in_window"),
                F.count(F.lit(1)).alias("n_entries"),
            )
        )
        audit_cols = [F.current_timestamp().alias("processing_time")] if audit else []
        return (
            agg.join(F.broadcast(dim), "location", "inner")
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "location",
                "total_new_cases_in_window",
                F.col("avg_new_cases_per_entry").cast("decimal(20,2)").alias("avg_new_cases_per_entry"),
                "max_new_cases_in_window",
                "total_cases_sum_in_window",
                "n_entries",
                "continent",
                "population",
                (
                    F.col("total_new_cases_in_window") * F.lit(1000000.0) / F.col("population")
                )
                .cast("decimal(20,4)")
                .alias("new_cases_per_million_in_window"),
                *audit_cols,
            )
        )

    return apply
