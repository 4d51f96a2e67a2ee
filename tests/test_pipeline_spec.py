"""The Kafka source's missing-connector guidance, and what it leaves alone."""

from __future__ import annotations

import pytest

from data_pipeline_with_spark_kafka_spark.sources.readers import kafka_connector_hint
from data_pipeline_with_spark_kafka_spark.streaming.covid_pipeline import read_events


def test_kafka_source_missing_connector_gives_guidance(spark):
    with pytest.raises(RuntimeError, match="--packages org.apache.spark:spark-sql-kafka"):
        read_events(spark, kafka_servers="localhost:9092")


def test_kafka_hint_passes_other_errors_through(spark):
    """An error that mentions Kafka but is not the missing connector (say,
    a broker that cannot be reached) propagates unchanged."""
    err = ConnectionError("kafka broker localhost:9092 is not reachable")
    with pytest.raises(ConnectionError) as raised:
        with kafka_connector_hint(spark, "try later."):
            raise err
    assert raised.value is err
    with pytest.raises(Exception, match="UNRESOLVED_COLUMN") as raised:
        with kafka_connector_hint(spark, "try later."):
            spark.range(1).select("kafka_offset").collect()
    assert not isinstance(raised.value, RuntimeError)
