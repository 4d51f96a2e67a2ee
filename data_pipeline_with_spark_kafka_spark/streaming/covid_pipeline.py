"""The reference pipeline, rebuilt as a declarative streaming plan.

End-to-end parity with
``/root/reference/airflow_home/scripts/spark_consumer_kafka.py``:

| stage                      | reference        | here |
|----------------------------|------------------|------|
| Kafka source               | :55-62           | SourceSpec(kind="kafka"), or file-stream stand-in for tests |
| value -> JSON parse        | :65-66 from_json | ``parse_events`` |
| conjunctive null filter    | :74              | ``parse_events`` |
| watermark                  | :78 (10 min)     | ``windowed_enrichment(watermark=...)`` |
| 1-min tumbling window aggs | :79-89           | ``windowed_enrichment`` (sum/avg/max/count) |
| window bound extraction    | :90-99           | idem |
| stream-static join         | :101-106         | broadcast dim join |
| derived per-million metric | :109-112,126     | DECIMAL(20,4) column |
| processing_time audit col  | :127             | ``windowed_enrichment(audit=True)`` (sink default) |
| sink                       | :131-157 (wart)  | idempotent keyed upsert (streaming/sinks.py) |
| query start + await        | :151-159         | ``run.cmd_consume --kafka-servers`` (cached dim, update mode, 1-minute trigger) |

The event payload mirrors the reference's covid schema
(``{"date","location","new_cases","total_cases"}``,
``kafka_producer.py:79-84``) with an added sub-minute event-time field so
1-minute windows are real (the reference's daily date strings collapse
every window to midnight — SURVEY.md §2.8 quirk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_with_spark_kafka_spark.plans.pipeline import Pipeline, SinkSpec, SourceSpec

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


def parse_events(raw: DataFrame) -> DataFrame:
    """value(json string) -> typed columns; malformed/missing -> dropped
    (the reference's drop-silently policy, made explicit here)."""
    data = F.from_json(F.col("value"), EVENT_SCHEMA)
    return (
        raw.withColumn("data", data)
        .select(
            F.to_timestamp("data.event_time").alias("event_time"),
            F.col("data.location").alias("location"),
            F.col("data.new_cases").alias("new_cases"),
            F.col("data.total_cases").alias("total_cases"),
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
    sink schema (build_stream_pipeline) carries it."""

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


def build_stream_pipeline(
    source: SourceSpec,
    dim: DataFrame,
    sink: SinkSpec,
    *,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    audit: bool = True,
) -> Pipeline:
    """Assemble the full declarative pipeline (source is swappable: kafka in
    production, file-stream in tests — SAME transforms and sink). The sink
    schema carries the ``processing_time`` audit column by default
    (reference parity); goldens compare against the deterministic columns."""
    return Pipeline(
        source=source,
        transforms=[
            parse_events,
            windowed_enrichment(dim, window=window, watermark=watermark, audit=audit),
        ],
        sink=sink,
    )


def kafka_source(bootstrap_servers: str, topic: str) -> SourceSpec:
    """Production source config (parity with spark_consumer_kafka.py:55-62:
    earliest offsets, tolerate data loss). The payload projection
    (CAST(value AS STRING)) happens in parse_events via from_json."""
    return SourceSpec(
        kind="kafka",
        streaming=True,
        options={
            "kafka.bootstrap.servers": bootstrap_servers,
            "subscribe": topic,
            "startingOffsets": "earliest",
            "failOnDataLoss": "false",
        },
    )


def file_stream_source(path: str, max_files_per_trigger: int | None = None) -> SourceSpec:
    """Deterministic replay source for tests: a dir of json files, each file
    one micro-batch when max_files_per_trigger=1."""
    options = {"format": "json"}
    if max_files_per_trigger is not None:
        options["maxFilesPerTrigger"] = str(max_files_per_trigger)
    return SourceSpec(
        kind="file-stream",
        path=path,
        schema="value string",
        options=options,
        streaming=True,
    )

