"""Measure the keyed-upsert MERGE cost against ledger size.

For each ledger size, seed a per-customer ledger through
``sinks.keyed_upsert_parquet``, then time ONE fixed-size batch upsert
(10k keys spread across the whole key domain) into it. The sink
anti-joins the batch against the ledger and rewrites the whole ledger,
so the per-trigger cost is O(ledger): these numbers are the baseline a
copy-on-write sink that rewrites only the touched files must beat.

    python tools/ledger_bench.py [batch_keys] [ledger_size ...]
    # default: 10_000 keys against 50k / 500k / 2M ledgers

Each timing is min-of-2 (co-tenant host). Prints one JSON line per
ledger size, then a summary line {"metric": "ledger_merge_bound", ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.session import get_spark
from data_pipeline_with_spark_kafka_spark.streaming.sinks import keyed_upsert_parquet


def _ledger_rows(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("o_custkey"),
        (F.col("id") % 1000).alias("last_order_days"),
        (F.col("id") % 17 + 1).alias("frequency"),
        (F.col("id") % 100_000).alias("monetary_cents"),
    )


def _batch_rows(spark, n_keys: int, ledger_n: int):
    # keys spread across the whole ledger domain, absolute replacement rows
    step = max(1, ledger_n // n_keys)
    return spark.range(n_keys).select(
        (F.col("id") * step % ledger_n).alias("o_custkey"),
        F.lit(7).cast("long").alias("last_order_days"),
        F.lit(3).cast("long").alias("frequency"),
        F.lit(123).cast("long").alias("monetary_cents"),
    ).dropDuplicates(["o_custkey"])


def _timed(fn) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def main() -> None:
    args = [int(a) for a in sys.argv[1:]]
    batch_keys = args[0] if args else 10_000
    sizes = args[1:] or [50_000, 500_000, 2_000_000]
    spark = get_spark("ledger-bench")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="ledgerbench_")
    results = []
    try:
        for n in sizes:
            batch = _batch_rows(spark, batch_keys, n).cache()
            batch.count()
            target = os.path.join(root, f"ledger{n}")
            sink = keyed_upsert_parquet(target, ["o_custkey"])
            sink(_ledger_rows(spark, n), 0)
            row = {
                "ledger_rows": n,
                "batch_keys": batch_keys,
                "upsert_sec": _timed(lambda: sink(batch, 1)),
                "ledger_bytes": _dir_bytes(target),
                "ledger_rows_after": spark.read.parquet(target).count(),
            }
            batch.unpersist()
            results.append(row)
            print(json.dumps(row), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"metric": "ledger_merge_bound", "results": results}))


if __name__ == "__main__":
    main()
