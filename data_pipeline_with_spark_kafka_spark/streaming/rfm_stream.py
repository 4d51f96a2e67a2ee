"""Streaming RFM maintenance: the incremental twin of the batch
``stats_rfm_segments`` query.

The RFM BASE is a per-customer running aggregate, all three dimensions
additive or max-monotone:

- recency   <- max(order epoch-day)         (max is monotone),
- frequency <- count of orders              (additive),
- monetary  <- sum of order cents           (additive integers).

So one carried state row per customer maintains the exact base
relation; QUARTILE CODING is corpus-wide (cut points move with every
order) and stays a cheap derivation over the maintained ledger — the
same split as the batch query, where cut points are a 1-row broadcast
over the per-customer aggregate.

Design notes:

- the base is one update-mode ``groupBy("o_custkey").agg(max, count,
  sum)``: Spark's built-in streaming aggregation keeps the state, so no
  custom state fold (``applyInPandasWithState``) is needed;
- state per customer = (last_order_days, frequency, monetary_cents):
  O(1) per KEY; total state is bounded by |customers| (the dimension),
  never by order volume — there is NO eviction horizon because lifetime
  aggregates are the semantics (unlike attribution/Markov, whose state
  bounds come from lookback/idle windows).
- monetary accumulates in INTEGER CENTS (each order's 2-dp price is
  exact in cents), so replay/batch-boundary reordering can never move a
  float sum across the 2-dp rounding boundary the batch query rounds at.
- emitted rows are ABSOLUTE per-customer aggregates (not deltas), so
  the ledger fold is idempotent under checkpoint replay with no epoch
  bookkeeping (contrast: the Markov ledger folds additive pair rows and
  must dedupe epochs). ``run_rfm_ledger_parquet`` folds them into a
  plain parquet table through the package's one keyed-upsert sink,
  ``sinks.keyed_upsert_parquet`` (tests/test_rfm_stream.py keeps a
  Python-dict fold as an independent check).
- under any delivery order the final ledger equals the batch aggregate
  over the same orders (max/sum/count are order-insensitive) — stronger
  than the attribution/Markov twins, whose at-event-time semantics
  diverge under reordering; pinned in tests/test_rfm_stream.py.

No counterpart in the 319-LoC reference (its only streaming agg is the
windowed groupBy/sum block, ``spark_consumer_kafka.py:77-99``); [EXT]
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rfm_base_stream(orders: DataFrame) -> DataFrame:
    """Update-mode stream of ABSOLUTE per-customer RFM base rows:
    (o_custkey, last_order_days, frequency, monetary_cents), all long.

    ``orders`` must carry (o_orderkey, o_orderdate timestamp,
    o_custkey, o_totalprice) — the fixture schema with the order date as
    the event time. One built-in streaming aggregation: max, count and
    sum are the state Spark's own update-mode ``groupBy`` keeps, so the
    stream starts no Python worker. No watermark: lifetime aggregates
    never expire, and state is customer-bounded by construction."""
    return orders.groupBy("o_custkey").agg(
        F.max(F.unix_date(F.to_date("o_orderdate"))).cast("long").alias("last_order_days"),
        F.count(F.lit(1)).alias("frequency"),
        # each order price is an exact 2-dp value: cents are exact ints
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("monetary_cents"),
    )


def run_rfm_ledger_parquet(stream: DataFrame, checkpoint: str, target_dir: str) -> None:
    """Durable ledger fold: MERGE each batch's absolute per-customer rows
    into a parquet ledger keyed by ``o_custkey`` through
    ``sinks.keyed_upsert_parquet``, with no driver-side data path. Absolute rows +
    keyed merge = replay-idempotent with zero epoch bookkeeping; for a
    JDBC serving table swap in ``sources.readers.jdbc_keyed_upsert``
    (same contract, transactional MERGE).

    Each trigger rewrites the whole ledger, so its cost is
    O(customers), not O(batch). The ledger is plain parquet: read it
    with ``segments_from_parquet_ledger`` or ``spark.read.parquet``."""
    from data_pipeline_with_spark_kafka_spark.streaming.sinks import keyed_upsert_parquet

    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(keyed_upsert_parquet(target_dir, ["o_custkey"]))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def segments_from_parquet_ledger(spark, target_dir: str) -> DataFrame:
    """Quartile-code the durable parquet ledger (one row per customer)
    and delegate to ``segments_from_base`` — end-to-end distributed, no
    dict materialization."""
    base = spark.read.parquet(target_dir).select(
        "o_custkey",
        F.col("last_order_days").alias("last_days"),
        "frequency",
        (F.col("monetary_cents").cast("double") / F.lit(100.0)).alias("monetary_raw"),
    ).withColumn("monetary", F.round("monetary_raw", 2)).drop("monetary_raw")
    return segments_from_base(base)


def segments_from_base(base: DataFrame) -> DataFrame:
    """Quartile-code a per-customer RFM base relation with the SAME
    cut-point derivation as the batch query
    (stats_extra.stats_rfm_segments): recency vs the ledger-wide max
    day, exact percentiles rounded at the batch query's precisions,
    code = cuts strictly below + 1. ``base`` carries (o_custkey,
    last_days, frequency, monetary[2dp])."""
    from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to

    maxd = base.agg(F.max("last_days").alias("maxd"))
    rfm = base.crossJoin(F.broadcast(maxd)).select(
        (F.col("maxd") - F.col("last_days")).cast("long").alias("recency"),
        "frequency",
        "monetary",
    )
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    cuts = rfm.agg(
        F.transform(F.percentile("recency", qs), lambda c: round_to(c, 4)).alias("rc"),
        F.transform(F.percentile("frequency", qs), lambda c: round_to(c, 4)).alias("fc"),
        F.transform(F.percentile("monetary", qs), lambda c: round_to(c, 2)).alias("mc"),
    )
    code = lambda cs, v: (  # noqa: E731 — local expression builder
        F.size(F.filter(cs, lambda c: v > c)) + F.lit(1)
    ).cast("int")
    coded = rfm.crossJoin(F.broadcast(cuts)).select(
        code(F.col("rc"), F.col("recency")).alias("r_code"),
        code(F.col("fc"), F.col("frequency")).alias("f_code"),
        code(F.col("mc"), F.col("monetary")).alias("m_code"),
        "recency",
        "monetary",
    )
    return coded.groupBy("r_code", "f_code", "m_code").agg(
        F.count(F.lit(1)).alias("n_customers"),
        round_to(F.avg("recency"), 4).alias("avg_recency_days"),
        round_to(
            F.sum(F.round(F.col("monetary") * 100).cast("long")).cast("double")
            / F.count(F.lit(1))
            / F.lit(100.0),
            2,
        ).alias("avg_monetary"),
    )
