"""Third relational tranche: ranking-window suite, skew-salted aggregation,
array/list aggregation, date arithmetic. Rounds out the Spark surface beyond
the reference (SURVEY.md §2.5-2.8 'free in Spark' rows) with oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import (
    load,
    register,
    round4,
    sql_cents_sum,
    sql_round4,
    cents_sum,
)
from .sketches import hll_estimate, hll_registers, sql_hll_estimate, sql_hll_registers


# --- q49: ranking windows (dense_rank / percent_rank / ntile / lead) -------

_Q49_ORACLE = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         CAST(dense_rank() OVER w AS BIGINT) AS drk,
         floor(percent_rank() OVER w * 10000 + 0.5) / 10000.0 AS prk,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         CAST(lead(o_orderkey) OVER w AS BIGINT) AS next_order
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey))
WHERE o_custkey < 200
"""


@register("q49_ranking_suite", _Q49_ORACLE, "dense_rank/percent_rank/ntile/lead windows")
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy(F.col("price_cents").desc(), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", cents.alias("price_cents"))
        .select(
            "o_custkey",
            "o_orderkey",
            "price_cents",
            F.dense_rank().over(w).cast("long").alias("drk"),
            round4(F.percent_rank().over(w)).alias("prk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.lead("o_orderkey").over(w).alias("next_order"),
        )
    )


# --- q50: skew-salted two-phase aggregation ---------------------------------
#
# The scale pattern for skewed groupBy keys: pre-aggregate on (key, salt)
# — fans a hot key across `_SALTS` reducers — then combine partials on the
# key alone. Results are bit-identical to the naive plan because the partial
# aggregates are exact integer cents. The oracle IS the naive plan, so this
# query proves salting preserves semantics.

_SALTS = 8

_Q50_ORACLE = f"""
SELECT l_returnflag AS flag,
       {sql_cents_sum('l_extendedprice', 'revenue')},
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
"""


@register("q50_salted_agg", _Q50_ORACLE, "skew-salted two-phase agg == naive agg")
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    salt = F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALTS))
    partial = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            salt.alias("salt"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("flag", "salt")
        .agg(F.sum("cents").alias("pc"), F.count(F.lit(1)).alias("pn"))
    )
    return partial.groupBy("flag").agg(
        (F.sum("pc") / F.lit(100.0)).alias("revenue"),
        F.sum("pn").alias("n"),
    )


# --- q51: array / list aggregation (collect_set + listagg) -----------------

_Q51_ORACLE = """
SELECT l_returnflag,
       to_json(list_sort(list(DISTINCT l_linestatus))) AS statuses,
       string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS status_csv,
       CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_statuses
FROM lineitem GROUP BY l_returnflag
"""


@register("q51_grouped_arrays", _Q51_ORACLE, "sorted collect_set array + listagg string")
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the array column ships JSON-serialized: both engines' to_json emit the
    # identical compact form, and top-level arrays break pandas-based result
    # canonicalizers (unhashable list)
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.to_json(F.sort_array(F.collect_set("l_linestatus"))).alias("statuses"),
        F.concat_ws(",", F.sort_array(F.collect_set("l_linestatus"))).alias("status_csv"),
        F.size(F.collect_set("l_linestatus")).cast("long").alias("n_statuses"),
    )


# --- q52: date arithmetic (trunc / datediff / add_months) -------------------

# --- q56: JSON column extraction -------------------------------------------

_Q56_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS n_distinct_k,
       CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
"""


@register("q56_json_extract", _Q56_ORACLE, "JSON path extraction from string props + agg")
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column: get_json_object stays JVM-side (Jackson
    under codegen), so JSON parsing scales like any other string expression —
    no Python, pushdown-friendly. At 100 TB prefer from_json with an explicit
    schema once the shape is known; the path extractor is the schemaless entry."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.countDistinct("k").alias("n_distinct_k"),
        F.max("k").alias("max_k"),
    )


# --- q53: shipping-priority revenue (TPC-H Q3 shape) -----------------------

_Q53_ORACLE = """
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
            AS BIGINT) / 100.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@register("q53_shipping_priority", _Q53_ORACLE, "3-way join + agg + top-10 (TPC-H Q3 shape)")
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ fact ⋈ filtered-dim: the dim (customers of one segment) is
    broadcast so only the orders⋈lineitem equi-join shuffles — and both
    shuffle on orderkey, which AQE can coalesce. Top-10 is a deterministic
    tie-broken TakeOrdered, never a global sort materialization."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev_cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("order_date"))
        .agg((F.sum(rev_cents) / F.lit(100.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


# --- q54: local-supplier volume (TPC-H Q5 shape) ---------------------------

_Q54_ORACLE = """
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
            AS BIGINT) / 100.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'EUROPE'
GROUP BY n_name
"""


@register("q54_local_supplier_volume", _Q54_ORACLE, "6-way join rollup (TPC-H Q5 shape)")
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table join: every dimension chain (region→nation→customer,
    supplier) broadcasts; only orders⋈lineitem shuffles. The
    local-supplier condition (s_nationkey = c_nationkey) rides on the
    broadcast supplier join as a second equi-key."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    rev_cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    cust = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            (F.sum(rev_cents) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q52_ORACLE = """
SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS order_month,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)))
            AS BIGINT) AS sum_lead_days,
       CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)))
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_lead_days,
       CAST(count(*) FILTER (CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90)
            AS BIGINT) AS n_slow
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY 1
"""


@register("q52_date_arithmetic", _Q52_ORACLE, "date_trunc/datediff/date_add over a join")
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"])
    lead = F.datediff("l_shipdate", "o_orderdate")
    return (
        j.select(
            F.trunc("o_orderdate", "month").alias("order_month"),
            lead.alias("lead_days"),
            (F.col("l_shipdate") > F.date_add("o_orderdate", 90)).alias("slow"),
        )
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("lead_days").cast("long").alias("sum_lead_days"),
            (
                F.sum("lead_days").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_lead_days"),
            F.count_if(F.col("slow")).alias("n_slow"),
        )
    )


# --- q58: sketch aggregates (portable HLL distinct + base-2 histogram median)

_Q58_ORACLE = f"""
WITH reg AS ({sql_hll_registers('lineitem', 'l_returnflag', 'l_orderkey')}),
est AS ({sql_hll_estimate('reg', 'l_returnflag')}),
exact AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
  FROM lineitem GROUP BY l_returnflag
),
vc AS (
  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
vcum AS (
  SELECT l_returnflag, cents,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cum
  FROM vc
),
med AS (
  SELECT v.l_returnflag, CAST(min(cents) AS BIGINT) AS exact_median_cents
  FROM vcum v JOIN exact e USING (l_returnflag)
  WHERE v.cum >= (e.n + 1) // 2 GROUP BY 1
),
hb AS (
  SELECT l_returnflag, length(bin(cents)) AS bucket, sum(cnt) AS cnt
  FROM vc GROUP BY 1, 2
),
hcum AS (
  SELECT l_returnflag, bucket,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum
  FROM hb
),
hmed AS (
  SELECT h.l_returnflag, CAST(min(bucket) AS BIGINT) AS median_bucket
  FROM hcum h JOIN exact e USING (l_returnflag)
  WHERE h.cum >= (e.n + 1) // 2 GROUP BY 1
)
SELECT e.l_returnflag, e.n, est.n_regs_hit, est.hll_est, e.exact_orders,
       {sql_round4('(est.hll_est - e.exact_orders) / e.exact_orders')} AS hll_rel_err,
       hmed.median_bucket,
       CAST(1 AS BIGINT) << (hmed.median_bucket - 1) AS bucket_lo_cents,
       (CAST(1 AS BIGINT) << hmed.median_bucket) - 1 AS bucket_hi_cents,
       med.exact_median_cents
FROM exact e
JOIN est USING (l_returnflag)
JOIN hmed USING (l_returnflag)
JOIN med USING (l_returnflag)
"""


@register(
    "q58_sketch_aggs",
    _Q58_ORACLE,
    "portable sketch aggregates: deterministic HLL NDV + base-2 histogram median, error vs exact",
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates — the 100 TB answer when exactness isn't
    required — on the PORTABLE deterministic machinery (q181/q182 family)
    so the result is value-hash-checkable cross-engine, unlike engine-
    native HLL++/KLL whose sketch internals differ per engine:

      - NDV per return flag by hand-rolled HyperLogLog (m=64, sha256-
        derived registers, integer-only rho via binary-string length; the
        2^-rho sum is dyadic within 49 mantissa bits so the double math is
        exact under any partial-agg order).
      - Median price by a base-2 histogram (HdrHistogram shape): bucket =
        bit-length of integer cents, mergeable integer counts, median
        bucket from a cumulative sum over <=40 bucket rows per flag.

    Both sketches aggregate with map-side partials and constant-size
    shuffle payloads (m register rows / b bucket rows per group) — the
    scale contract count(DISTINCT) and exact medians can't offer. The
    exact NDV and exact lower-median ride along as the error audit,
    sharing the sketches' own frames: duplicates can't change max(rho),
    so ONE distinct-(flag, orderkey) frame feeds both the HLL registers
    and the exact-NDV count, and the exact row count n comes from the
    median leg's value-count histogram — no separate countDistinct pass
    or third lineitem scan; tests/test_layout.py bounds hll_rel_err and
    asserts the exact median falls inside the reported median bucket.
    The exact-median window runs over that per-(flag, cents) histogram,
    whose size is bounded by the cents DOMAIN (~1.1M distinct values for
    TPC-H extendedprice), not the corpus — so the per-flag sort stays a
    capped single-task job at any data scale.

    Reference parity: beyond-reference (the reference has no approximate
    aggregates); the exact counterparts are q24/q27."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    # no spread(): both consumers are aggregations with map-side partials,
    # so the per-row map work (round+cast) is too light to pay a full
    # round-robin shuffle for — interleaved A/B at sf0.1 measured the
    # spread form ~0.5s slower (1.8s vs 1.3s) because the repartition
    # exchange dominates; at scale spread is a no-op on many-split tables
    # anyway, so dropping it is scale-neutral
    base = li
    # distinct keys serve the HLL (identical registers: max(rho) is
    # duplicate-insensitive, and hashing fewer rows is strictly cheaper)
    # AND the exact-NDV audit — the audit's distinct shuffle is the only
    # corpus-keyed shuffle in the query
    okd = base.select("l_returnflag", "l_orderkey").distinct()
    est = hll_estimate(hll_registers(okd, "l_returnflag", "l_orderkey"), "l_returnflag")
    # value histogram: per-(flag, cents) counts first, so the median
    # windows below run over distinct values / <=40 buckets, not rows
    vc = base.groupBy("l_returnflag", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    # exact audit columns from the frames already built: n from the value
    # histogram, exact NDV from the distinct-key frame (3-row joins)
    exact = (
        vc.groupBy("l_returnflag")
        .agg(F.sum("cnt").cast("long").alias("n"))
        .join(
            okd.groupBy("l_returnflag").agg(
                F.count(F.lit(1)).cast("long").alias("exact_orders")
            ),
            "l_returnflag",
        )
    )
    wv = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vcum = vc.withColumn("cum", F.sum("cnt").over(wv))
    half = F.expr("(n + 1) div 2")  # integer floor-div, matching DuckDB's //
    med = (
        vcum.join(F.broadcast(exact), "l_returnflag")
        .filter(F.col("cum") >= half)
        .groupBy("l_returnflag")
        .agg(F.min("cents").cast("long").alias("exact_median_cents"))
    )
    hb = vc.groupBy(
        "l_returnflag",
        F.length(F.conv(F.col("cents").cast("string"), 10, 2)).alias("bucket"),
    ).agg(F.sum("cnt").alias("cnt"))
    wb = (
        Window.partitionBy("l_returnflag")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hmed = (
        hb.withColumn("cum", F.sum("cnt").over(wb))
        .join(F.broadcast(exact), "l_returnflag")
        .filter(F.col("cum") >= half)
        .groupBy("l_returnflag")
        .agg(F.min("bucket").cast("long").alias("median_bucket"))
    )
    return (
        exact.join(est, "l_returnflag")
        .join(F.broadcast(hmed), "l_returnflag")
        .join(F.broadcast(med), "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            "n_regs_hit",
            "hll_est",
            "exact_orders",
            round4(
                (F.col("hll_est") - F.col("exact_orders")) / F.col("exact_orders")
            ).alias("hll_rel_err"),
            "median_bucket",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(median_bucket AS INT) - 1)"
            ).alias("bucket_lo_cents"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(median_bucket AS INT)) - 1"
            ).alias("bucket_hi_cents"),
            "exact_median_cents",
        )
    )


# --- q60: array higher-order functions over grouped data --------------------

_Q60_ORACLE = """
WITH g AS (
  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS BIGINT))) AS qtys
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(qtys) AS BIGINT) AS n_items,
       CAST(coalesce(list_sum(list_filter(qtys, x -> x > 25)), 0) AS BIGINT) AS big_qty_sum,
       CAST(list_has_any(qtys, [50]) AS BIGINT) AS has_50,
       to_json(qtys) AS qtys
FROM g WHERE l_orderkey < 1000
"""


@register("q60_array_hof", _Q60_ORACLE, "collect → sort_array → filter/aggregate HOFs")
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-data processing: group rows into arrays, then transform with
    higher-order functions WITHOUT re-exploding — at scale this keeps the
    per-key work inside one task, no second shuffle. l_quantity is integral
    in TPC-H data, so BIGINT casts are exact in both engines. The raw array
    ships JSON-serialized (identical compact form in both engines; top-level
    arrays break pandas-based canonicalizers)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    g = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.col("l_quantity").cast("long"))).alias("qtys")
    )
    big_sum = F.aggregate(
        F.filter("qtys", lambda x: x > 25), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return g.select(
        "l_orderkey",
        F.size("qtys").cast("long").alias("n_items"),
        big_sum.alias("big_qty_sum"),
        F.array_contains("qtys", F.lit(50).cast("long")).cast("long").alias("has_50"),
        F.to_json("qtys").alias("qtys"),
    )


# --- q62: order-priority checking (TPC-H Q4 shape: EXISTS → semi join) ------
#
# Orders in one quarter that had at least one line shipped after the order
# date, counted by priority. The correlated EXISTS compiles to a left-semi
# join with a non-equi residual — the equi key (orderkey) still drives the
# shuffle, so at 100 TB this is a plain co-partitioned semi join; no
# broadcast needed on either side.

_Q62_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


@register("q62_order_priority", _Q62_ORACLE, "EXISTS → left-semi join, count by priority (TPC-H Q4 shape)")
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# --- q63: large-volume customers (TPC-H Q18 shape: HAVING subquery) ---------
#
# Orders whose total quantity exceeds a threshold, joined back to customer.
# The aggregate→filter→join-back pattern: the heavy groupBy runs on
# lineitem alone (shuffle on orderkey), the surviving keys are a tiny set
# that then drives broadcast-able joins to orders/customer.

_Q63_ORACLE = """
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING total_qty > 200
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, big.total_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


@register("q63_large_volume", _Q63_ORACLE, "agg-HAVING → join back to dims (TPC-H Q18 shape)")
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    # `big` survives as a tiny key set → broadcast it INTO the fact joins,
    # so orders/customer are probed without a full shuffle of either
    return (
        F.broadcast(big)
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
    )


# --- q64: promo revenue share per month (TPC-H Q14 shape) -------------------
#
# Conditional-aggregate ratio: promo revenue / total revenue by ship month.
# part is the dim side (broadcast); revenue is exact integer cents so the
# final double division is the only float op — deterministic across engines.

_Q64_ORACLE = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS promo_cents,
       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
                     ELSE 0 END) AS DOUBLE)
         / CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
         AS promo_share
FROM lineitem JOIN part ON p_partkey = l_partkey
GROUP BY ship_month
"""


@register("q64_promo_share", _Q64_ORACLE, "broadcast dim + conditional-agg ratio (TPC-H Q14 shape)")
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100).cast(
        "long"
    )
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")).select(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("long")).alias("promo"),
        rev.alias("rev"),
    )
    return j.groupBy("ship_month").agg(
        F.sum("promo").alias("promo_cents"),
        F.sum("rev").alias("total_cents"),
        (F.sum("promo").cast("double") / F.sum("rev").cast("double")).alias("promo_share"),
    )


# --- q65: event-time interval join (stream-stream join's batch mirror) ------
#
# Pairs each click with the same user's views in the preceding 30 minutes —
# the canonical enrich-with-recent-context join. This batch form is the
# oracle-checked mirror of streaming.interval_join (a watermarked
# stream-stream join); tests assert the two produce identical pairs across
# micro-batch boundaries. The equi key (user_id) drives the shuffle; the
# time bound is a join residual, so at 100 TB this plans exactly like any
# co-partitioned fact⋈fact join.

_Q65_ORACLE = """
SELECT a.user_id AS user_id, a.event_id AS click_event, b.event_id AS view_event
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'view'
 AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts
"""


@register("q65_interval_join", _Q65_ORACLE, "event-time interval join (batch mirror of stream-stream)")
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event"), F.col("ts").alias("click_ts")
    )
    b = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_event"),
        F.col("ts").alias("view_ts"),
    )
    return a.join(
        b,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("view_ts") <= F.col("click_ts")),
    ).select("user_id", "click_event", "view_event")


# --- q83: min-cost supplier per part (TPC-H Q2 shape) -----------------------
#
# The correlated-scalar-min pattern: for each small part, the supplier(s)
# quoting the minimum unit price within EUROPE. No partsupp table ships in
# the fixtures, so the price relation is lineitem's observed unit price in
# exact integer MILLI-CENTS ((cents * 1000) div qty — quantities are
# integral, so this is exact and engine-identical; floats never decide the
# min or the join-back equality). Plan: hash-agg min per part -> join back
# on (part, unit == min) -> broadcast dim chain; ties keep every achieving
# supplier (Q2 semantics) — deterministic as a set.

_Q83_ORACLE = """
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) * 1000
           // CAST(round(l_quantity) AS BIGINT) AS unit_mc
  FROM lineitem
),
mins AS (SELECT l_partkey, CAST(min(unit_mc) AS BIGINT) AS min_mc FROM unit GROUP BY l_partkey),
best AS (
  SELECT DISTINCT u.l_partkey, u.l_suppkey, u.unit_mc
  FROM unit u JOIN mins m ON m.l_partkey = u.l_partkey AND u.unit_mc = m.min_mc
)
SELECT p.p_partkey, p.p_size, s.s_name, n.n_name,
       CAST(b.unit_mc AS DOUBLE) / 100000.0 AS min_unit_price
FROM best b
JOIN part p ON p.p_partkey = b.l_partkey AND p.p_size < 10
JOIN supplier s ON s.s_suppkey = b.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
"""


@register("q83_min_cost_supplier", _Q83_ORACLE, "correlated min + join-back + dim chain (TPC-H Q2 shape)")
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The part predicate cannot be pushed into the lineitem scan by
    # Catalyst (it lives on another table), so push it BY CONSTRUCTION: a
    # broadcast semi-join prunes lineitem to eligible parts' rows before
    # any aggregation — the min/join-back then runs on the small survivor
    # set. At 100 TB this is the difference between aggregating the whole
    # fact table and aggregating the ~2% that can reach the output.
    p = load(spark, sf_dir, "part").filter(F.col("p_size") < 10).select("p_partkey", "p_size")
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(
            F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"))),
            "l_partkey",
            "left_semi",
        )
    )
    unit_mc = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * 1000"
        " div CAST(round(l_quantity) AS BIGINT)"
    )
    unit = li.select("l_partkey", "l_suppkey", unit_mc.alias("unit_mc"))
    mins = unit.groupBy("l_partkey").agg(F.min("unit_mc").alias("min_mc"))
    best = (
        unit.join(F.broadcast(mins), "l_partkey")
        .filter(F.col("unit_mc") == F.col("min_mc"))
        .select("l_partkey", "l_suppkey", "unit_mc")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "p_partkey",
            "p_size",
            "s_name",
            "n_name",
            (F.col("unit_mc").cast("double") / 100000.0).alias("min_unit_price"),
        )
    )


# --- q84: explicit GROUPING SETS (disjoint axes) ----------------------------
#
# The grouping-sets form rollup/cube canNOT express: two disjoint
# single-dimension axes in one pass — per returnflag totals AND per
# linestatus totals from one scan, distinguished by grouping_id. One
# expand + hash-agg, map-side partials intact.

_Q84_ORACLE = f"""
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       {sql_cents_sum('l_quantity', 'sum_qty')}
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


@register("q84_grouping_sets", _Q84_ORACLE, "disjoint-axis GROUPING SETS with grouping_id")
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        )
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


# --- q85: equi-width histogram (exact integer buckets) ----------------------
#
# The profiling primitive behind every engine's `histogram()`: price
# distribution per return flag in fixed 5000-cent buckets. Bucketing is
# integer floor-division on exact cents, so bucket membership can never
# drift between engines; the aggregate is one hash-agg whose output is
# bounded by (flags x buckets), and map-side partials mean the scan ships
# only bucket counts into the shuffle.

_BUCKET_CENTS = 500000  # 5000.00 per bucket

_Q85_ORACLE = f"""
SELECT l_returnflag,
       CAST(round(l_extendedprice * 100) AS BIGINT) // {_BUCKET_CENTS} AS bucket,
       CAST(CAST(round(l_extendedprice * 100) AS BIGINT) // {_BUCKET_CENTS}
            * {_BUCKET_CENTS} AS BIGINT) / 100.0 AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) // {_BUCKET_CENTS}
"""


@register("q85_histogram", _Q85_ORACLE, "exact equi-width price histogram per flag")
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    bucket = F.expr(
        f"CAST(round(l_extendedprice * 100) AS BIGINT) div {_BUCKET_CENTS}"
    )
    return (
        li.select("l_returnflag", bucket.alias("bucket"))
        .groupBy("l_returnflag", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "l_returnflag",
            "bucket",
            ((F.col("bucket") * _BUCKET_CENTS).cast("long") / F.lit(100.0)).alias("bucket_lo"),
            "n",
        )
    )


# --- q86: event-sequence transition mining (Markov matrix) ------------------
#
# Sequence analytics over the event stream: per user ordered by (ts,
# event_id), count (event_type -> next event_type) transitions — the
# first-order Markov matrix behind session-flow and funnel analysis. The
# lead() window partitions on user_id (bounded width: one user's history),
# and the transition matrix is a tiny (types x types) aggregate.

_Q86_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
  FROM events
)
SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@register("q86_event_transitions", _Q86_ORACLE, "event-type transition counts (Markov matrix)")
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("event_type", F.lead("event_type").over(w).alias("next_type"))
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- q87: referential-integrity audit (orphan foreign keys) -----------------
#
# The data-quality gate run before any multi-table pipeline is trusted:
# for every foreign-key relation in the schema, count references without a
# parent. Each relation is one left-anti join on its key; dims broadcast,
# fact-fact anti-joins shuffle on the key — the audit costs one pass per
# relation and the report is schema-sized. A non-zero row pinpoints which
# edge of the schema graph is broken.

_Q87_ORACLE = """
SELECT relation, n_orphans FROM (
  SELECT 'lineitem->orders' AS relation, CAST(count(*) AS BIGINT) AS n_orphans
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
  UNION ALL
  SELECT 'lineitem->part', CAST(count(*) AS BIGINT)
  FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
  UNION ALL
  SELECT 'lineitem->supplier', CAST(count(*) AS BIGINT)
  FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
  UNION ALL
  SELECT 'orders->customer', CAST(count(*) AS BIGINT)
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
  UNION ALL
  SELECT 'customer->nation', CAST(count(*) AS BIGINT)
  FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
  UNION ALL
  SELECT 'supplier->nation', CAST(count(*) AS BIGINT)
  FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)
  UNION ALL
  SELECT 'nation->region', CAST(count(*) AS BIGINT)
  FROM nation WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region)
)
"""


@register("q87_fk_audit", _Q87_ORACLE, "orphan-foreign-key audit across the schema graph")
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    def orphans(child: DataFrame, child_key: str, parent: DataFrame, parent_key: str, name: str):
        anti = child.select(F.col(child_key).alias(parent_key)).join(
            F.broadcast(parent.select(parent_key)), parent_key, "left_anti"
        )
        return anti.agg(F.count(F.lit(1)).alias("n_orphans")).select(
            F.lit(name).alias("relation"), "n_orphans"
        )

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    # the three lineitem FK audits share ONE fact scan: broadcast left
    # joins against the (distinct) parent keys and count the null-parent
    # rows — identical counts to three per-FK anti-joins, without scanning
    # the fact table three times (parents are PKs, distinct() makes the
    # left join provably multiplication-free)
    miss = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(
            F.broadcast(o.select("o_orderkey").distinct()),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .join(
            F.broadcast(load(spark, sf_dir, "part").select("p_partkey").distinct()),
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .join(
            F.broadcast(load(spark, sf_dir, "supplier").select("s_suppkey").distinct()),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left",
        )
        .agg(
            *[
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"m{i}")
                for i, pk in enumerate(("o_orderkey", "p_partkey", "s_suppkey"))
            ]
        )
    )
    li_rows = miss.select(
        F.expr(
            "stack(3,"
            " 'lineitem->orders',   m0,"
            " 'lineitem->part',     m1,"
            " 'lineitem->supplier', m2)"
            " AS (relation, n_orphans)"
        )
    )
    parts = [
        li_rows,
        orphans(o, "o_custkey", load(spark, sf_dir, "customer"), "c_custkey", "orders->customer"),
        orphans(load(spark, sf_dir, "customer"), "c_nationkey", load(spark, sf_dir, "nation"), "n_nationkey", "customer->nation"),
        orphans(load(spark, sf_dir, "supplier"), "s_nationkey", load(spark, sf_dir, "nation"), "n_nationkey", "supplier->nation"),
        orphans(load(spark, sf_dir, "nation"), "n_regionkey", load(spark, sf_dir, "region"), "r_regionkey", "nation->region"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- q88: global spend deciles via two-phase ranking ------------------------
#
# A BI staple (decile report over customer lifetime spend) whose naive
# form is ntile(10) OVER (ORDER BY ...) — a partition-less window this
# repo's own plan gate forbids over unbounded input. Registered here in
# its 100 TB form: operators.sequential_ids assigns the global rank via
# range partitions + broadcast offsets (no single-partition exchange of
# the data), and ntile's exact fill rule (first n%k buckets take one
# extra row) is reproduced with integer arithmetic — so the driver's
# hash gate now covers the two-phase ranking machinery itself against
# DuckDB's native ntile().

_Q88_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT o_custkey, cents,
         CAST(ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS decile
  FROM spend
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) / 100.0 AS total_spend
FROM ranked GROUP BY decile
"""


@register("q88_spend_deciles", _Q88_ORACLE, "global decile report via two-phase ranking (no global window)")
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sequential_ids

    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    # rank descending by spend: order on (-cents, o_custkey) gives the same
    # total order as ntile's ORDER BY cents DESC, o_custkey
    ranked = sequential_ids(
        spend.withColumn("_neg", -F.col("cents")), ["_neg", "o_custkey"], alias="rank"
    ).drop("_neg")
    # exact ntile(k): q = n div k, r = n mod k; buckets 1..r hold q+1 rows
    k = 10
    n = spend.agg(F.count(F.lit(1)).alias("n"))
    j = ranked.crossJoin(F.broadcast(n))
    q_ = F.expr(f"n div {k}")
    r_ = F.col("n") % k
    big = (q_ + 1) * r_  # rows living in the oversized buckets
    decile = (
        F.when(F.col("rank") <= big, F.ceil(F.col("rank") / (q_ + 1)))
        .otherwise(r_ + F.ceil((F.col("rank") - big) / q_))
        .cast("long")
    )
    return (
        j.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("cents") / F.lit(100.0)).alias("total_spend"),
        )
    )
