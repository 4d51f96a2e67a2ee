"""Incremental view maintenance for additive rollups.

The nightly-pipeline problem: a daily revenue rollup exists; a batch of
late-arriving facts lands; recomputing the whole view over 100 TB for a
0.1% delta is the bug. Additive aggregates (sum/count) maintain
incrementally: aggregate ONLY the delta, then merge coalesce(s,0) +
coalesce(d,0) into the snapshot by key.

Scale notes: the delta aggregate shuffles |delta| rows; the merge is a
key join between the view (|days| rows) and the delta view (|touched
days| rows) — the fact table history is never rescanned. The oracle
recomputes the view from scratch over the widened predicate, proving
merge == recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to
from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table

CUTOFF = "1996-01-01"
LATE_END = "1996-01-31"

IVM_ROLLUP_ORACLE = f"""
SELECT l_shipdate AS ship_day,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate <= DATE '{LATE_END}'
GROUP BY l_shipdate
"""


@register("ivm_rollup_maintenance", oracle=IVM_ROLLUP_ORACLE, tags=("ivm", "agg"))
def ivm_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a daily-revenue rollup against a late batch: aggregate
    only the late facts, full-outer merge into the existing view with
    coalesce-additive combine. The oracle recomputes from scratch over
    the widened predicate — merge must equal recompute."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))

    def view(pred):
        return (
            lineitem.filter(pred)
            .groupBy(F.col("l_shipdate").alias("ship_day"))
            .agg(rev.alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        )

    snapshot = view(F.col("l_shipdate") < F.lit(CUTOFF).cast(dict(lineitem.dtypes)["l_shipdate"]))
    delta = view(
        (F.col("l_shipdate") >= F.lit(CUTOFF).cast(dict(lineitem.dtypes)["l_shipdate"]))
        & (F.col("l_shipdate") <= F.lit(LATE_END).cast(dict(lineitem.dtypes)["l_shipdate"]))
    )
    s = snapshot.select(
        "ship_day", F.col("revenue").alias("rev_s"), F.col("n_items").alias("n_s")
    )
    d = delta.select(
        "ship_day", F.col("revenue").alias("rev_d"), F.col("n_items").alias("n_d")
    )
    merged = s.join(d, "ship_day", "full_outer").select(
        "ship_day",
        (F.coalesce("rev_s", F.lit(0.0)) + F.coalesce("rev_d", F.lit(0.0))).alias("revenue"),
        (F.coalesce("n_s", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias("n_items"),
    )
    return merged.select(
        "ship_day", round_to("revenue", 4).alias("revenue"), "n_items"
    )


# --------------------------------------------------------------------------
# Incremental JOIN maintenance (delta algebra)
# --------------------------------------------------------------------------
#
# The other half of IVM: a materialized JOIN view V = A >< B receives
# deltas on BOTH sides. The maintenance identity
#   (A u dA) >< (B u dB) = V  u  dA><B  u  A><dB  u  dA><dB
# means the engine appends three delta terms and NEVER recomputes V —
# each term joins a small delta against a base relation, so maintenance
# cost scales with |delta|, not |history|. The oracle derives the same
# append set from first principles: the widened join MINUS the old view
# = rows where NOT both sides are old.

JOIN_IVM_ORACLE = f"""
SELECT o.o_orderkey, l.l_linenumber,
       o.o_orderdate, l.l_shipdate,
       ROUND(l.l_extendedprice * (1 - l.l_discount), 4) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderdate <= DATE '{LATE_END}' AND l.l_shipdate <= DATE '{LATE_END}'
  AND NOT (o.o_orderdate < DATE '{CUTOFF}' AND l.l_shipdate < DATE '{CUTOFF}')
"""


@register("ivm_join_maintenance", oracle=JOIN_IVM_ORACLE, tags=("ivm", "join"))
def ivm_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a materialized orders><lineitem join under deltas on BOTH
    sides (orders by o_orderdate, lineitem by l_shipdate): emit exactly
    the append set dA><B u A><dB u dA><dB — the old view is never
    rescanned as a JOIN (its inputs are only probed by the small delta
    sides). The oracle recomputes the widened join minus the old view,
    proving delta-algebra == recompute."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    odt = dict(orders.dtypes)["o_orderdate"]
    ldt = dict(lineitem.dtypes)["l_shipdate"]
    o_old = F.col("o_orderdate") < F.lit(CUTOFF).cast(odt)
    o_new = (F.col("o_orderdate") >= F.lit(CUTOFF).cast(odt)) & (
        F.col("o_orderdate") <= F.lit(LATE_END).cast(odt)
    )
    l_old = F.col("l_shipdate") < F.lit(CUTOFF).cast(ldt)
    l_new = (F.col("l_shipdate") >= F.lit(CUTOFF).cast(ldt)) & (
        F.col("l_shipdate") <= F.lit(LATE_END).cast(ldt)
    )
    a, da = orders.filter(o_old), orders.filter(o_new)
    b, db = lineitem.filter(l_old), lineitem.filter(l_new)

    def j(o_side: DataFrame, l_side: DataFrame) -> DataFrame:
        return o_side.join(
            l_side, o_side["o_orderkey"] == l_side["l_orderkey"]
        ).select(
            "o_orderkey",
            "l_linenumber",
            "o_orderdate",
            "l_shipdate",
            round_to(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
        )

    return j(da, b).unionByName(j(a, db)).unionByName(j(da, db))
