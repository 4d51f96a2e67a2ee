from data_pipeline_with_spark_kafka_spark.streaming import sinks
from data_pipeline_with_spark_kafka_spark.streaming.covid_pipeline import (
    EVENT_SCHEMA,
    parse_events,
    read_events,
    windowed_enrichment,
)

__all__ = ["EVENT_SCHEMA", "parse_events", "read_events", "windowed_enrichment", "sinks"]
