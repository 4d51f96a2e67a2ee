"""SparkSession factory.

Single place that pins the session configuration (the reference spreads it
across ``spark_consumer_kafka.py:18-23`` and ``spark_consumer_dag.py:40-45``
with version skew; here it is one function):

- AQE on (runtime partition coalescing, skew-join handling, join re-plan),
- shuffle partitions sized to the actual parallelism, not a blanket 200
  (the reference hard-codes 200 for a 2-core cluster),
- UTC session timezone so timestamp semantics match the DuckDB oracle,
- Arrow enabled for any pandas interchange (vectorized, not per-row py4j),
- ``spark.sql.legacy.parquet.nanosAsLong`` because the test corpus carries
  nanosecond parquet timestamps that Spark's TimestampType (microsecond)
  cannot ingest natively; sources/tables.py converts ns->us explicitly.

At cluster scale the same factory applies: only ``master``/memory change,
and those are environment-driven.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def driver_memory() -> str:
    """Driver heap ceiling: ``SPARK_GRAFT_DRIVER_MEM`` if set, else half
    the host's physical memory in whole GiB, at least 1g and at most 48g.
    A ceiling above physical memory lets the heap grow until the host
    kills the JVM instead of collecting garbage."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, phys // 2**31))}g"


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def state_store_conf(backend: str = "rocksdb") -> dict[str, str]:
    """Streaming state-store configuration by backend name.

    ``rocksdb`` is the at-scale default: state lives off-heap in RocksDB
    with changelog checkpointing, so executor heap is not the ceiling on
    per-partition state (the HDFS-backed default keeps every state row as
    JVM objects — fine for small windows, an OOM risk for wide watermark
    horizons or high-cardinality keys). ``memory`` returns {} (Spark's
    default provider). Applied at query start via session conf — set
    before ``writeStream.start()``; tests/test_state_store.py proves the
    pipeline is provider-agnostic and that watermark eviction bounds
    state under either backend.
    """
    if backend == "rocksdb":
        return {
            "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
            # changelog checkpointing ships deltas, not full snapshots
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        }
    if backend == "memory":
        return {}
    raise ValueError(f"unknown state-store backend {backend!r}")


def get_spark(
    app_name: str = "data-pipeline-with-spark-kafka-spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``SPARK_GRAFT_STATE_STORE=rocksdb`` opts streaming queries into the
    RocksDB state store (see ``state_store_conf``)."""
    cpus = default_parallelism()
    if shuffle_partitions is None:
        # Local mode: one shuffle partition per core avoids task-scheduling
        # overhead dominating small stages; AQE coalesces further at runtime.
        # On a real cluster this is overridden to ~2-3x total cores.
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Long many-query sessions (bench runs the whole 190+ corpus in
        # one JVM) accumulate ContextCleaner-tracked garbage — broadcast
        # blocks, localCheckpoint RDDs, shuffle files — because cleanup
        # piggybacks on driver GC and a large heap may never collect on its
        # own (Spark's default periodic GC is 30 min, longer than the
        # whole run). A 90 s cadence keeps per-query times flat from the
        # first query to the 193rd.
        .config("spark.cleaner.periodicGC.interval", "90s")
    )
    backend = os.environ.get("SPARK_GRAFT_STATE_STORE")
    if backend:
        for key, value in state_store_conf(backend).items():
            builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
