"""Second relational tranche: quantiles, as-of join, cube/grouping sets,
unpivot, SQL-API correlated subqueries, latest-per-key compaction."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import asof_join_bucketed, latest_per_key
from . import load, register, sql_cents_sum, cents_sum
from .relational import cents


# --- q27: exact quantiles (median / p90) ----------------------------------

_Q27_ORACLE = """
SELECT l_returnflag,
       quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5) / 100.0 AS median_price,
       quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.9) / 100.0 AS p90_price,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
"""


@register("q27_quantiles", _Q27_ORACLE, "exact interpolated percentile over integer cents")
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact interpolated percentile by BUCKET-REFINE SELECTION, not the
    # object-agg (F.percentile merges per-group value multisets
    # single-threaded, ~2.2s at sf0.1, 50x DuckDB) and not a per-group
    # cumulative window either: prices are near-unique, so the
    # distinct-value histogram is corpus-sized and a window partitioned by
    # the 3 return flags sorts the corpus in 3 straggler tasks. The
    # operator buckets values coarsely, locates each bracketing rank's
    # bucket from broadcast prefix sums, and re-scans only those buckets —
    # nothing corpus-sized is sorted or shuffled at ANY scale. Same
    # continuous-percentile definition as F.percentile/quantile_cont
    # (v = lo + frac*(hi-lo) at 0-based rank p*(n-1)); the oracle is
    # unchanged and still hash-matches.
    from pandaspark.operators import grouped_quantiles_bucket_refine

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    qv = grouped_quantiles_bucket_refine(
        li, "l_returnflag", cents("l_extendedprice"), [0.5, 0.9]
    )
    return qv.select(
        "l_returnflag",
        (F.col("q_0_5") / 100.0).alias("median_price"),
        (F.col("q_0_9") / 100.0).alias("p90_price"),
        "n",
    )


# --- q28: as-of join (orders ← latest prior event) ------------------------

_Q28_ORACLE = """
SELECT o_orderkey, event_id AS asof_event, value AS asof_value
FROM (
  SELECT o_orderkey, e.event_id, e.value,
         row_number() OVER (
           PARTITION BY o_orderkey
           ORDER BY e.ts DESC NULLS LAST, e.event_id DESC NULLS LAST) AS rn
  FROM orders
  LEFT JOIN events e
    ON e.user_id = o_custkey % 10 AND CAST(e.ts AS TIMESTAMP) <= o_orderdate)
WHERE rn = 1
"""


@register("q28_asof_join", _Q28_ORACLE, "backward as-of join, time-bucketed (no O(matches) blowup)")
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = asof_join_bucketed(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
        load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value"),
        left_on=F.col("o_custkey") % 10,
        right_on=F.col("user_id"),
        left_time="o_orderdate",
        right_time="ts",
        tiebreak=["event_id"],
    )
    return joined.select(
        "o_orderkey",
        F.col("event_id").alias("asof_event"),
        F.col("value").alias("asof_value"),
    )


# --- q29: cube + grouping_id ----------------------------------------------

_Q29_ORACLE = f"""
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       {sql_cents_sum('l_quantity', 'sum_qty')}
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


@register("q29_cube", _Q29_ORACLE, "cube grouping sets with grouping_id")
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            cents_sum("l_quantity", "sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "gid",
            "n",
            "sum_qty",
        )
    )


# --- q35: unpivot / melt --------------------------------------------------

_Q35_ORACLE = """
SELECT p_partkey, metric, value
FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size, p_retailprice FROM part)
UNPIVOT (value FOR metric IN (p_size, p_retailprice))
"""


@register("q35_unpivot", _Q35_ORACLE, "unpivot wide → long (melt)")
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice"
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# --- q36: SQL API with correlated subquery --------------------------------

_Q36_SQL = """
WITH totals AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM {orders}
  GROUP BY o_custkey
)
SELECT o_custkey, CAST(total_cents AS DOUBLE) / 100.0 AS customer_total, n_orders
FROM totals
-- "total > 2 * mean" in pure integer arithmetic (engines disagree on
-- double→int cast rounding): total * N > 2 * grand_sum
WHERE total_cents * (SELECT CAST(count(*) AS BIGINT) FROM totals)
      > 2 * (SELECT CAST(sum(total_cents) AS BIGINT) FROM totals)
"""


@register(
    "q36_sql_subquery",
    _Q36_SQL.format(orders="orders"),
    "scalar subquery over CTE via the SQL API",
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("pq_orders")
    return spark.sql(_Q36_SQL.format(orders="pq_orders"))


# --- q37: latest-per-key compaction (CDC shape) ---------------------------

_Q37_ORACLE = """
SELECT user_id, event_id AS last_event, event_type AS last_type, value AS last_value
FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
WHERE rn = 1
"""


@register("q37_latest_per_key", _Q37_ORACLE, "CDC compaction via operators.latest_per_key")
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return latest_per_key(e, keys=["user_id"], order_by=["ts", "event_id"]).select(
        "user_id",
        F.col("event_id").alias("last_event"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


# --- q47: lag/lead delta analysis -----------------------------------------
# Per-user step deltas via lag() over (ts, event_id); totals through exact
# integer micro-units. The window partitions on user_id — the same shuffle
# key the per-user rollup needs, so the plan reuses one exchange.

_Q47_ORACLE = """
WITH v AS (
  SELECT user_id, CAST(round(value * 1000000) AS BIGINT) AS vi,
         lag(CAST(round(value * 1000000) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pvi
  FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(pvi) AS BIGINT) AS n_steps,
       CAST(sum(abs(vi - pvi)) AS BIGINT) / 1000000.0 AS total_abs_delta
FROM v GROUP BY user_id
"""


@register("q47_lag_delta", _Q47_ORACLE, "per-user lag() step deltas, exact totals")
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    vi = F.round(F.col("value") * 1000000).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = e.select("user_id", vi.alias("vi"), F.lag(vi).over(w).alias("pvi"))
    return v.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("pvi").alias("n_steps"),
        (F.sum(F.abs(F.col("vi") - F.col("pvi"))) / F.lit(1000000.0)).alias(
            "total_abs_delta"
        ),
    )


# --- q48: RANGE-frame sliding window (1h moving sum) ----------------------
# Event-time range frame over epoch micros — peers with equal timestamps are
# included in both engines by RANGE semantics, so results match exactly.

_Q48_ORACLE = """
SELECT user_id, event_id,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
       AS mov_1h_sum
FROM events WHERE user_id < 20
"""


@register("q48_range_frame", _Q48_ORACLE, "1-hour RANGE-frame moving sum per user")
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    mov = F.sum(F.round(F.col("value") * 100).cast("long")).over(w)
    return e.select("user_id", "event_id", (mov / F.lit(100.0)).alias("mov_1h_sum"))
