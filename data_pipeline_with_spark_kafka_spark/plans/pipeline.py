"""Declarative pipeline spec -> DataFrame / Structured Streaming plan.

The engine's "IR" is this spec (SURVEY.md §3.4): a source, a list of
DataFrame->DataFrame transforms, and a sink. It compiles to Spark's own
Catalyst plan — never a parallel plan language. The reference hard-wires
one such pipeline in a 160-line script
(``/root/reference/airflow_home/scripts/spark_consumer_kafka.py``); here
the same shape is data.

Sources are deliberately swappable (kafka <-> file <-> rate) so the SAME
pipeline runs against Kafka in production and a replayable file stream in
tests — that is what makes streaming semantics (watermarks, late data,
idempotent sinks) golden-testable without a broker.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

Transform = Callable[[DataFrame], DataFrame]


@contextmanager
def kafka_connector_hint(spark: SparkSession, alternative: str) -> Iterator[None]:
    """Turn a missing-Kafka-connector failure (AnalysisException
    DATA_SOURCE_NOT_FOUND) inside the block into a RuntimeError naming the
    ``--packages`` coordinate for this Spark and Scala version, followed by
    ``alternative``; any other error propagates unchanged."""
    try:
        yield
    except Exception as exc:
        if "kafka" in str(exc).lower() or "DATA_SOURCE" in str(exc):
            scala = spark.sparkContext._jvm.scala.util.Properties.versionNumberString()
            scala_bin = ".".join(scala.split(".")[:2])
            raise RuntimeError(
                "Kafka connector not on the classpath. Launch with "
                f"--packages org.apache.spark:spark-sql-kafka-0-10_{scala_bin}:"
                f"{spark.version}, or {alternative}"
            ) from exc
        raise


@dataclass(frozen=True)
class SourceSpec:
    """A batch or streaming source.

    kinds: ``parquet`` | ``csv`` | ``json`` | ``kafka`` | ``rate`` |
    ``file-stream`` (streaming json/parquet dir with explicit schema).
    Explicit schemas are the contract for every streaming source — no
    inference on the hot path (the reference does the same with its
    hand-written StructType, ``spark_consumer_kafka.py:47-52``).
    """

    kind: str
    path: str | None = None
    schema: T.StructType | str | None = None
    options: dict[str, str] = field(default_factory=dict)
    streaming: bool = False

    def load(self, spark: SparkSession) -> DataFrame:
        if self.kind == "kafka":
            # Requires the spark-sql-kafka package on the classpath; in this
            # environment the plan is constructed but only exercised via the
            # file-stream stand-in (same downstream pipeline).
            reader = spark.readStream if self.streaming else spark.read
            with kafka_connector_hint(
                spark, "use file_stream_source() as a test stand-in (same downstream pipeline)."
            ):
                return reader.format("kafka").options(**self.options).load()
        if self.kind == "rate":
            return spark.readStream.format("rate").options(**self.options).load()
        if self.kind == "file-stream":
            reader = spark.readStream
            if self.schema is None:
                raise ValueError("file-stream sources require an explicit schema")
            reader = reader.schema(self.schema)
            fmt = self.options.get("format", "json")
            opts = {k: v for k, v in self.options.items() if k != "format"}
            return reader.options(**opts).format(fmt).load(self.path)
        reader = spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        reader = reader.options(**self.options)
        if self.kind == "parquet":
            return reader.parquet(self.path)
        if self.kind == "csv":
            return reader.option("header", "true").csv(self.path)
        if self.kind == "json":
            return reader.json(self.path)
        raise ValueError(f"unknown source kind: {self.kind}")


@dataclass(frozen=True)
class SinkSpec:
    """Where the pipeline lands.

    kinds (batch): ``parquet`` | ``noop`` | ``memory-return``;
    kinds (streaming): ``memory`` | ``foreach-batch``.
    ``foreach_batch`` receives (batch_df, epoch_id) — use the idempotent
    writers in streaming/sinks.py, not blind appends (the reference's
    append-under-update-mode wart, ``spark_consumer_kafka.py:131-157``).
    """

    kind: str
    path: str | None = None
    mode: str = "append"
    options: dict[str, str] = field(default_factory=dict)
    output_mode: str = "update"
    query_name: str | None = None
    foreach_batch: Callable[[DataFrame, int], None] | None = None
    trigger: dict[str, Any] = field(default_factory=lambda: {"availableNow": True})
    checkpoint: str | None = None


@dataclass(frozen=True)
class Pipeline:
    """source |> transforms |> sink."""

    source: SourceSpec
    transforms: Sequence[Transform] = ()
    sink: SinkSpec | None = None

    def dataframe(self, spark: SparkSession) -> DataFrame:
        df = self.source.load(spark)
        for t in self.transforms:
            df = t(df)
        return df

    def run(self, spark: SparkSession):
        """Execute. Batch sinks run synchronously; streaming sinks return the
        started StreamingQuery (caller owns awaitTermination)."""
        df = self.dataframe(spark)
        sink = self.sink
        if sink is None or sink.kind == "memory-return":
            return df
        if not df.isStreaming:
            writer = df.write.mode(sink.mode).options(**sink.options)
            if sink.kind == "parquet":
                writer.parquet(sink.path)
                return None
            if sink.kind == "noop":
                writer.format("noop").save()
                return None
            raise ValueError(f"unknown batch sink: {sink.kind}")

        writer = df.writeStream.outputMode(sink.output_mode).options(**sink.options)
        if sink.checkpoint:
            writer = writer.option("checkpointLocation", sink.checkpoint)
        if sink.trigger:
            writer = writer.trigger(**sink.trigger)
        if sink.kind == "memory":
            writer = writer.format("memory").queryName(sink.query_name or "pipeline_out")
        elif sink.kind == "foreach-batch":
            writer = writer.foreachBatch(sink.foreach_batch)
        else:
            raise ValueError(f"unknown streaming sink: {sink.kind}")
        return writer.start()
