"""PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the capability surface of
``arunbalasundar/data-pipeline-with-spark-kafka`` (a Kafka -> Structured
Streaming -> windowed aggregation -> stream-static join -> JDBC pipeline,
see ``/root/reference/airflow_home/scripts/spark_consumer_kafka.py``),
generalized into:

- a batch relational query surface (DuckDB-oracle verifiable),
- a declarative streaming pipeline (watermark, tumbling/sliding/session
  windows, idempotent foreachBatch sinks),
- LLM-data-pipeline operators (dedup, similarity search, text analysis,
  multimodal column plumbing) designed for 100 TB scale.

Everything is public PySpark DataFrame / Structured Streaming API; no
custom Catalyst rules, no RDDs in the hot path.
"""

import sys

from pyspark import cloudpickle

# UDF closures travel by value, so a Python worker never imports this
# package: the queries run from any working directory, with no
# PYTHONPATH and no files shipped to the executors.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from data_pipeline_with_spark_kafka_spark.session import get_spark  # noqa: E402

__all__ = ["get_spark"]
__version__ = "0.1.0"
