"""Relational operator corpus: joins (all types incl. non-equi), aggregations
(distinct, rollup/cube), analytic window functions, sort/limit, set ops,
dedup — the [EXT] rows of SURVEY.md §2.4-2.6.

Determinism contract (driver hash): doubles rounded to 4 decimals on both
sides; window orderings always carry a unique tiebreak key; top-k sorts on
the ROUNDED measure so Spark and the oracle cut the same k rows.

Scale notes: only bounded dims (literal tier tables, 1-row scalar
aggregates) carry explicit broadcast hints; sf-proportional dims are
hint-free (AQE elects broadcast while small). The non-equi tier
join is a broadcast nested-loop against a 3-row literal table (never a
cartesian against another fact); window functions repartition by the
partition key only (one shuffle); rollup/cube expand grouping sets before
the single shuffle (Spark's Expand operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table, local_rows
from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

@register(
    "join_inner_orders_customer",
    oracle="""
SELECT o.o_orderkey, c.c_name, ROUND(o.o_totalprice, 4) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'MACHINERY'
""",
    tags=("join",),
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact⋈dim (ref J1 analogue); the dim is
    sf-proportional so broadcast is AQE-elected, not hinted."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"], "inner")
        .select("o_orderkey", "c_name", round_to("o_totalprice", 4).alias("total_price"))
    )


@register(
    "join_left_customer_orders",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, o.o_orderstatus
FROM customer c LEFT JOIN orders o
  ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'F'
""",
    tags=("join",),
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no matching orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = (cust["c_custkey"] == orders["o_custkey"]) & (orders["o_orderstatus"] == "F")
    return cust.join(orders, cond, "left").select("c_custkey", "o_orderkey", "o_orderstatus")


@register(
    "join_full_outer_keys",
    oracle="""
SELECT c.c_custkey, s.s_suppkey
FROM customer c FULL OUTER JOIN supplier s ON c.c_custkey = s.s_suppkey
""",
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join over partially-overlapping key domains."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    return cust.join(supp, cust["c_custkey"] == supp["s_suppkey"], "full_outer").select(
        "c_custkey", "s_suppkey"
    )


@register(
    "join_semi_customers_with_orders",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
""",
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): no row multiplication, probe side only."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — customers with no pending orders
    (every customer has *some* order, so the unfiltered variant is empty)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_cross_small",
    oracle="""
SELECT r.r_name, s.o_orderstatus
FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
""",
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny relations (explicit, never fact x fact)."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    status = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


@register(
    "join_range_price_tier",
    oracle="""
SELECT o.o_orderkey, tier.tier_name
FROM orders o
JOIN (VALUES (0.0, 100000.0, 'low'),
             (100000.0, 250000.0, 'mid'),
             (250000.0, 1e12, 'high')) AS tier(lo, hi, tier_name)
  ON o.o_totalprice >= tier.lo AND o.o_totalprice < tier.hi
""",
    tags=("join", "non-equi"),
)
def join_range_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a broadcast literal tier table.

    Physical plan: BroadcastNestedLoopJoin with a 3-row build side — the
    fact table streams through once; at 100 TB this stays a map-side op.
    """
    orders = load_table(spark, sf_dir, "orders")
    tiers = local_rows(
        spark,
        [(0.0, 100000.0, "low"), (100000.0, 250000.0, "mid"), (250000.0, 1e12, "high")],
        "lo double, hi double, tier_name string",
    )
    cond = (orders["o_totalprice"] >= tiers["lo"]) & (orders["o_totalprice"] < tiers["hi"])
    return orders.join(F.broadcast(tiers), cond, "inner").select("o_orderkey", "tier_name")


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------

@register(
    "agg_global_stats",
    oracle="""
SELECT COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       ROUND(MIN(o_totalprice), 4) AS min_price,
       ROUND(MAX(o_totalprice), 4) AS max_price,
       ROUND(AVG(o_totalprice), 4) AS avg_price,
       ROUND(STDDEV_SAMP(o_totalprice), 4) AS std_price
FROM orders
""",
    tags=("agg",),
)
def agg_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no group-by) multi-aggregate incl. count-distinct and stddev."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        round_to(F.min("o_totalprice"), 4).alias("min_price"),
        round_to(F.max("o_totalprice"), 4).alias("max_price"),
        round_to(F.avg("o_totalprice"), 4).alias("avg_price"),
        round_to(F.stddev_samp("o_totalprice"), 4).alias("std_price"),
    )


@register(
    "agg_group_count_distinct",
    oracle="""
SELECT c_nationkey,
       COUNT(*) AS n_customers,
       COUNT(DISTINCT c_mktsegment) AS n_segments,
       ROUND(SUM(c_acctbal), 4) AS sum_acctbal
FROM customer
GROUP BY c_nationkey
""",
    tags=("agg",),
)
def agg_group_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregate with a distinct aggregate (two-phase expand+agg)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
        round_to(F.sum("c_acctbal"), 4).alias("sum_acctbal"),
    )


@register("agg_approx_count_distinct", oracle=None, tags=("agg", "approx"))
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate count-distinct (no oracle: sketch values are
    engine-specific; driver records a rows-only check). At 100 TB this is
    THE count-distinct: fixed-size sketch, no expand shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_rollup_status_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 4) AS sum_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
-- no-op on real data (every grouping-set row aggregates >= 1 input row);
-- on an EMPTY table standard SQL still emits the grand-total row with
-- COUNT(*)=0 while Spark's rollup/cube emit nothing — this pins the
-- oracle to Spark's empty-input behavior (round-8 edge sweep).
HAVING COUNT(*) > 0
""",
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-set aggregate with grouping_id disambiguation."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        round_to(F.sum("o_totalprice"), 4).alias("sum_price"),
    ).select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price")


@register(
    "agg_cube_flag_status",
    oracle="""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n_items,
       ROUND(SUM(l_quantity), 4) AS sum_qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
HAVING COUNT(*) > 0  -- see the rollup oracle's empty-table note
""",
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-set aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_items"),
        round_to(F.sum("l_quantity"), 4).alias("sum_qty"),
    ).select("l_returnflag", "l_linestatus", "gid", "n_items", "sum_qty")


@register(
    "agg_percentiles",
    oracle="""
SELECT o_orderstatus,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50,
       ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90
FROM orders GROUP BY o_orderstatus
""",
    tags=("agg",),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ percentile_cont)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        round_to(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        round_to(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
    )


# --------------------------------------------------------------------------
# Analytic window functions
# --------------------------------------------------------------------------

@register(
    "window_rank_customers",
    oracle="""
SELECT c_nationkey, c_custkey,
       ROUND(c_acctbal, 4) AS acctbal,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
""",
    tags=("window",),
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank over a partitioned, uniquely-ordered window."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return cust.select(
        "c_nationkey",
        "c_custkey",
        round_to("c_acctbal", 4).alias("acctbal"),
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "window_lag_lead_orders",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(o_totalprice, 4) AS total_price,
       ROUND(LAG(o_totalprice) OVER w, 4) AS prev_price,
       ROUND(LEAD(o_totalprice) OVER w, 4) AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    tags=("window",),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each customer's order history."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        round_to("o_totalprice", 4).alias("total_price"),
        round_to(F.lag("o_totalprice").over(w), 4).alias("prev_price"),
        round_to(F.lead("o_totalprice").over(w), 4).alias("next_price"),
    )


@register(
    "window_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
           AS running_total
FROM orders
""",
    tags=("window",),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum with an explicit ROWS frame."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        round_to(F.sum("o_totalprice").over(w), 4).alias("running_total"),
    )


@register(
    "window_topk_per_group",
    oracle="""
SELECT c_nationkey, c_custkey, ROUND(c_acctbal, 4) AS acctbal
FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) WHERE rn <= 3
""",
    tags=("window", "topk"),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via row_number filter (the scalable per-group top-k:
    one shuffle on the partition key; AQE handles residual skew)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", round_to("c_acctbal", 4).alias("acctbal"))
    )


@register(
    "orderby_limit_topk",
    oracle="""
SELECT o_orderkey, ROUND(o_totalprice, 4) AS total_price
FROM orders
ORDER BY ROUND(o_totalprice, 4) DESC, o_orderkey
LIMIT 25
""",
    tags=("sort", "topk"),
)
def orderby_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-25: TakeOrderedAndProject (per-partition heap + merge),
    never a full global sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", round_to("o_totalprice", 4).alias("total_price"))
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# Set operations / dedup
# --------------------------------------------------------------------------

@register(
    "setop_union_all",
    oracle="""
SELECT o_orderkey AS k, 'open' AS src FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT o_orderkey AS k, 'done' AS src FROM orders WHERE o_orderstatus = 'F'
""",
    tags=("setop",),
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics, no shuffle)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("k"), F.lit("open").alias("src")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("k"), F.lit("done").alias("src")
    )
    return a.unionByName(b)


@register(
    "setop_intersect",
    oracle="""
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
""",
    tags=("setop",),
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics)."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    return a.intersect(b)


@register(
    "setop_except_all",
    oracle="""
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P'
""",
    tags=("setop",),
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference, multiplicity-aware)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = orders.filter(F.col("o_orderstatus") == "P").select("o_orderpriority")
    return a.exceptAll(b)


@register(
    "distinct_segment_nation",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    tags=("dedup",),
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT on a projection (hash-aggregate dedup)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "dedup_keep_first_order",
    oracle="""
SELECT o_custkey, o_orderstatus, o_orderkey, o_orderdate
FROM (
  SELECT o_custkey, o_orderstatus, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
""",
    tags=("dedup",),
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keep-first dedup: unlike ``dropDuplicates`` (which keeps
    an arbitrary row), pick the earliest row per key via row_number=1."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderstatus").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderstatus", "o_orderkey", "o_orderdate")
    )


@register(
    "pivot_status_by_priority",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_open,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_done,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_pending
FROM orders GROUP BY o_orderpriority
""",
    tags=("agg", "pivot"),
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no extra distinct-values job —
    mandatory at scale) then renamed to stable column names."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("cnt_open"),
            F.coalesce("F", F.lit(0)).alias("cnt_done"),
            F.coalesce("P", F.lit(0)).alias("cnt_pending"),
        )
    )


# --------------------------------------------------------------------------
# Subquery shapes (expressed as joins, the scalable form)
# --------------------------------------------------------------------------

@register(
    "subquery_scalar_above_avg",
    oracle="""
SELECT o_orderkey, ROUND(o_totalprice, 4) AS total_price
FROM orders
WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
""",
    tags=("subquery",),
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: filter against a broadcast 1-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    avg_df = orders.agg(F.avg("o_totalprice").alias("avg_price"))
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .select("o_orderkey", round_to("o_totalprice", 4).alias("total_price"))
    )


@register(
    "subquery_having_active_customers",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 3
""",
    tags=("subquery", "agg"),
)
def subquery_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING (post-aggregation filter)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


BUCKETED_RANGE_ORACLE = """
WITH bands AS (
    SELECT i * 20000.0 AS lo, (i + 1) * 20000.0 AS hi,
           'band_' || lpad(CAST(i AS VARCHAR), 2, '0') AS band
    FROM (SELECT UNNEST(range(0, 25)) AS i)
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(MIN(o_totalprice), 4) AS min_price,
       ROUND(MAX(o_totalprice), 4) AS max_price
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


@register("join_range_bucketed", oracle=BUCKETED_RANGE_ORACLE, tags=("join", "non-equi", "scale"))
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BIG-interval-side range join (scale path): identical semantics
    to a non-equi interval join, rewritten as bucket-explode + EQUI-join +
    residual bound filter (`operators/rangejoin.bucketed_range_join`).
    Unlike `join_range_price_tier`'s BroadcastNestedLoopJoin — correct
    only while the interval side broadcasts — this plan hash-shuffles on
    the bucket key, so it survives an interval side of any size. The
    bucket width (50000) deliberately misaligns with the band width (20000)
    to exercise multi-bucket interval replication + residual filtering.
    Plan discipline (no NestedLoop) asserted in tests/test_plans.py."""
    from data_pipeline_with_spark_kafka_spark.operators.rangejoin import bucketed_range_join

    orders = load_table(spark, sf_dir, "orders")
    bands = spark.range(0, 25).select(
        (F.col("id") * 20000.0).alias("lo"),
        ((F.col("id") + 1) * 20000.0).alias("hi"),
        F.concat(F.lit("band_"), F.lpad(F.col("id").cast("string"), 2, "0")).alias("band"),
    )
    joined = bucketed_range_join(orders, bands, "o_totalprice", "lo", "hi", bucket_width=50000.0)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        round_to(F.min("o_totalprice"), 4).alias("min_price"),
        round_to(F.max("o_totalprice"), 4).alias("max_price"),
    )


ASOF_ORACLE = """
WITH clicks AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
    FROM events WHERE event_type = 'click'
), views AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts, value AS view_value
    FROM events WHERE event_type = 'view'
)
SELECT c.event_id, c.user_id, c.click_ts,
       CASE WHEN v.view_ts IS NOT NULL
                 AND epoch(c.click_ts) - epoch(v.view_ts) <= 86400
            THEN v.view_ts END AS matched_view_ts,
       CASE WHEN v.view_ts IS NOT NULL
                 AND epoch(c.click_ts) - epoch(v.view_ts) <= 86400
            THEN v.view_value END AS view_value
FROM clicks c
ASOF LEFT JOIN views v ON c.user_id = v.user_id AND v.view_ts <= c.click_ts
"""


@register("join_asof_latest_view", oracle=ASOF_ORACLE, tags=("join", "asof", "events"))
def join_asof_latest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: for every click event, the same user's
    latest view event at-or-before it, null unless within a 24-hour
    tolerance. Spark has no native as-of join; `operators/asof.asof_join`
    expresses it as tagged-union + one per-key time-ordered window pass
    (single shuffle on user_id — the sort-merge-join shape). Oracle is
    DuckDB's native ASOF LEFT JOIN with the tolerance as a post null-out,
    i.e. an independent implementation of the same semantics."""
    from data_pipeline_with_spark_kafka_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("click_ts")
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("value").alias("view_value")
    )
    return asof_join(
        clicks,
        views,
        key="user_id",
        left_ts="click_ts",
        right_ts="view_ts",
        right_cols=["view_value"],
        tolerance_seconds=86400,
    )


@register(
    "join_bloom_pruned_urgent_revenue",
    oracle="""
SELECT date_trunc('month', o.o_orderdate) AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
""",
    tags=("join", "runtime-filter"),
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈selective-dim join with an explicit Bloom runtime filter:
    lineitem is pruned MAP-SIDE (k codegen bit tests against a 32 KB
    word-array literal, zero added fact shuffles) against the
    urgent-orders key set before its join Exchange, so only ~20% of
    fact rows reach the shuffle. The oracle is the PLAIN join — the
    value hash matching it is the proof the prune has no false
    negatives (false positives survive the prune and die in the join).

    The filter build is one bounded aggregate job at construction
    (output fixed at m_bits/64 = 4096 longs regardless of dim size),
    memoized per dim content — the same offline-artifact class as the
    SQ8/PQ codebooks, allowlisted the same way in the lazy-construction
    contract. See operators/runtime_filter for the measured probe cost
    and for why this beats both key-set broadcast (unbounded) and
    Spark's injected bloom (optimizer-visibility-limited) at 100 TB."""
    from data_pipeline_with_spark_kafka_spark.operators.runtime_filter import bloom_pruned_join

    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate")
    )
    joined = bloom_pruned_join(lineitem, urgent, "l_orderkey", "o_orderkey")
    return joined.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month")).agg(
        F.count(F.lit(1)).alias("n_items"),
        round_to(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
    )
