"""Ledger-driven incremental batch processing over a partitioned table —
the BATCH counterpart of a streaming checkpoint.

A recurring batch job over a partitioned directory (`dt=.../lang=...`)
must not reprocess what it already processed. The runner keeps a LEDGER
(a tiny parquet table of processed partition values + the batch id that
handled them), diffs it against the source's current partition listing,
and hands the processing function ONE DataFrame filtered to exactly the
new partitions — a filter on partition columns only, so Catalyst prunes
at the listing level (`PartitionFilters`) and unprocessed data is never
even listed, let alone scanned.

Crash discipline (same two-phase shape as the JDBC staging upsert): the
ledger append happens AFTER the processing function returns. A crash
mid-processing leaves the ledger untouched, so the next run retries the
same partitions — callers make the processing idempotent per partition
(overwrite-by-partition output, keyed upsert, or dedup on a batch key).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.sources.tables import local_rows


def list_partitions(spark: SparkSession, path: str, partition_col: str) -> list:
    """Current partition values, from the catalog listing only (a scan of
    directory names, not data — one narrow distinct over the partition
    column, satisfied by the file index)."""
    df = spark.read.parquet(path)
    # String-normalized: the ledger stores strings, and partition-dir
    # values round-trip through directory names anyway.
    return sorted(
        r[0] for r in df.select(F.col(partition_col).cast("string")).distinct().collect()
    )


def processed_partitions(spark: SparkSession, ledger_path: str) -> list:
    try:
        return sorted(r[0] for r in spark.read.parquet(ledger_path).select("partition_value").distinct().collect())
    except Exception:
        return []  # no ledger yet -> nothing processed


def run_incremental(
    spark: SparkSession,
    source_path: str,
    partition_col: str,
    ledger_path: str,
    process: Callable[[DataFrame, list], None],
    *,
    batch_id: int | None = None,
) -> list:
    """Process only partitions absent from the ledger; returns the list
    handled this run (empty = no-op). ``process(df, partitions)`` receives
    the pruned DataFrame; the ledger records the partitions only after it
    returns."""
    current = list_partitions(spark, source_path, partition_col)
    done = set(processed_partitions(spark, ledger_path))
    todo = [p for p in current if p not in done]
    if not todo:
        return []
    df = spark.read.parquet(source_path).filter(
        F.col(partition_col).cast("string").isin(todo)
    )
    process(df, todo)
    next_id = batch_id if batch_id is not None else len(done)
    ledger_rows = local_rows(
        spark, [(str(p), int(next_id)) for p in todo], "partition_value string, batch_id long"
    )
    ledger_rows.write.mode("append").parquet(ledger_path)
    return todo
