"""Fourth relational tranche — the last classic TPC-H shapes missing from
the registry: Q6 (predicate-only revenue scan), Q9 (profit by nation/year),
Q11 (value concentration vs scalar-subquery threshold), Q12 (speed-bucket
priority counts), Q16 (distinct-supplier stats with NOT-IN exclusion),
Q20 (volume-dominant supplier semi-join chain), Q21 (exactly-one-late-
supplier self-correlation). With these, every one of the 22 TPC-H query
shapes has a registry entry.

The fixture schema has no partsupp / l_shipmode / l_commitdate /
l_receiptdate, so (documented per query) Q9's supplycost is stood in by
p_retailprice, Q12's shipmode by a ship-latency bucket, Q16's complaint
filter by a supplier-name pattern, Q20's stock threshold by a shipped-
volume dominance ratio, and Q21's late test by shipdate lagging orderdate.
Reference parity: these complete the join/agg surface catalogued in
SURVEY.md §2.4-§2.5 (reference query set: analysis.py:1-210).

Scale notes (100 TB): part/supplier/nation dimension chains broadcast
everywhere; the only wide shuffles are lineitem⋈orders on orderkey and
the per-key aggregates on their natural keys. Aggregate-derived thresholds
(Q11's total, Q20's per-part totals) travel as single-row broadcasts or
re-join on the already-shuffled key — never as per-row recomputed subplans.
All money/quantity math is exact integer cents (see package docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load, register
from .relational4 import _SQL_REV_CENTS, _rev_cents


# --- q105: predicate-only revenue scan (TPC-H Q6 shape) ---------------------

_Q105_ORACLE = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) / 10000.0
         AS revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
  AND l_discount BETWEEN 0.05 AND 0.09
  AND l_quantity < 24
"""


@register("q105_forecast_revenue", _Q105_ORACLE, "predicate-only revenue scan (TPC-H Q6 shape)")
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical scan-dominated query: no join, one global aggregate.
    All three predicates are scan-level parquet pushdowns (date range,
    discount range, quantity bound), so at 100 TB the row-group statistics
    prune most of the table before decode. price*discount has exactly four
    decimal places, so the product of the two integer-cent factors is an
    exact 1e-4-unit BIGINT — associative, engine-identical."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date").between("1996-01-01", "1996-12-31")
        & F.col("l_discount").between(0.05, 0.09)
        & (F.col("l_quantity") < 24)
    )
    prod = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        F.col("l_discount") * 100
    ).cast("long")
    return li.agg((F.sum(prod) / F.lit(10000.0)).alias("revenue"))


# --- q106: product profit by nation and year (TPC-H Q9 shape) ---------------

_Q106_ORACLE = f"""
SELECT n_name AS nation,
       CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS o_year,
       CAST(sum({_SQL_REV_CENTS}
                - CAST(round(p_retailprice * 100) AS BIGINT)
                  * CAST(round(l_quantity) AS BIGINT) / 10) AS BIGINT) / 100.0
         AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, CAST(year(CAST(l_shipdate AS DATE)) AS INT)
"""


@register("q106_product_profit", _Q106_ORACLE, "profit by supplier nation / year (TPC-H Q9 shape)")
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 with p_retailprice/10 standing in for the missing ps_supplycost
    (the fixture has no partsupp). The part-name filter prunes ~1/6 of the
    part dimension BEFORE its broadcast, so the fact join is against the
    filtered dim; supplier→nation also broadcasts. The only shuffle is the
    final (nation, year) hash aggregate. Cost stays integral: cents * whole
    quantity div 10 is exact (cents are multiples of 10 after the * qty)."""
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    li = load(spark, sf_dir, "lineitem")
    cost_tenth_cents = (
        F.round(F.col("p_retailprice") * 100).cast("long")
        * F.round(F.col("l_quantity")).cast("long")
    )
    profit_cents = _rev_cents() - (cost_tenth_cents / F.lit(10)).cast("long")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("l_shipdate").cast("date")).alias("o_year"),
        )
        .agg((F.sum(profit_cents) / F.lit(100.0)).alias("sum_profit"))
    )


# --- q107: part value concentration (TPC-H Q11 shape) -----------------------

_Q107_ORACLE = f"""
WITH slice AS (
  SELECT l_partkey, {_SQL_REV_CENTS} AS rev_cents
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
)
, per_part AS (
  SELECT l_partkey, CAST(sum(rev_cents) AS BIGINT) AS cents
  FROM slice GROUP BY l_partkey
)
SELECT l_partkey, cents / 100.0 AS part_value
FROM per_part
WHERE cents * (SELECT CAST(count(*) AS BIGINT) FROM per_part) * 2
      > (SELECT CAST(sum(cents) AS BIGINT) FROM per_part) * 3
"""


@register("q107_important_parts", _Q107_ORACLE, "value-concentration HAVING scalar subquery (TPC-H Q11 shape)")
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 over the lineitem bridge (no partsupp): parts whose revenue from
    one region's suppliers exceeds 1.5x the MEAN per-part value of that
    slice. (TPC-H's fixed total-fraction cutoff goes vacuous as the part
    count grows — the spec itself rescales it by 1/SF; a mean-relative
    threshold is scale-free. A region slice rather than Q11's single
    nation: the sf0.001 fixture has 10 suppliers over 25 nations, so any
    fixed nation set can be empty there.) The slice is aggregated ONCE;
    the grand total/count is a second aggregate of the same per-part
    partials (not a rescan) and joins back as a broadcast single row. The
    threshold compares as an integer cross-multiply — no division, no
    doubles."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    per_part = (
        load(spark, sf_dir, "lineitem")
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_rev_cents()).alias("_cents"))
    )
    total = per_part.agg(
        F.sum("_cents").alias("_total"), F.count("*").alias("_nparts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_cents") * F.col("_nparts") * 2 > F.col("_total") * 3)
        .select("l_partkey", (F.col("_cents") / F.lit(100.0)).alias("part_value"))
    )


# --- q108: ship-speed priority counts (TPC-H Q12 shape) ---------------------

_Q108_ORACLE = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) <= 30
            THEN 'FAST' ELSE 'SLOW' END AS ship_speed,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
GROUP BY 1
"""


@register("q108_ship_priority_dist", _Q108_ORACLE, "latency-bucket priority counts (TPC-H Q12 shape)")
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 with l_shipmode stood in by a ship-latency bucket (<=30 days =
    FAST). One orderkey shuffle join, then a two-group conditional-count
    aggregate — the CASE sums are map-side partials, so the final exchange
    carries two rows per map task."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date").between("1996-01-01", "1997-12-31")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "ship_speed",
            F.when(
                F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
                <= 30,
                "FAST",
            ).otherwise("SLOW"),
        )
        .groupBy("ship_speed")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )

# --- q109: supplier-count part stats (TPC-H Q16 shape) ----------------------

_Q109_ORACLE = """
WITH excl AS (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) bridge
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 20, 28, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM excl)
GROUP BY p_brand, p_type, p_size
"""


@register("q109_supplier_part_stats", _Q109_ORACLE, "distinct suppliers per part attrs, NOT-IN exclusion (TPC-H Q16 shape)")
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 with the lineitem (partkey, suppkey) bridge standing in for
    partsupp, and the complaint exclusion stood in by a supplier-name
    pattern (deterministic ~10% at every scale; the fixture's s_acctbal
    has no negatives at small SFs, which would make a balance-based filter
    vacuous). The bridge is deduped map-side BEFORE the part join; the
    exclusion is a left-anti against a broadcast ~10% supplier slice;
    count(DISTINCT) over the already-distinct bridge keys is a single
    hash aggregate on the (brand, type, size) shuffle."""
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 20, 28, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excl = load(spark, sf_dir, "supplier").filter(F.col("s_name").like("%7")).select(
        "s_suppkey"
    )
    bridge = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(excl), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    return (
        bridge.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --- q110: volume-dominant suppliers (TPC-H Q20 shape) ----------------------

_Q110_ORACLE = """
WITH vol AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small %'
    AND CAST(l_shipdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
  GROUP BY l_partkey, l_suppkey
), tot AS (
  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS nsupp
  FROM vol GROUP BY l_partkey
)
SELECT DISTINCT s_name, n_name AS nation
FROM vol
JOIN tot USING (l_partkey)
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE vol.qty * tot.nsupp > 2 * tot.total
"""


@register("q110_dominant_suppliers", _Q110_ORACLE, "volume-dominance semi-join chain (TPC-H Q20 shape)")
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 with availqty>half-of-shipped stood in by shipped-volume
    dominance: a supplier qualifies when its 1997 shipped quantity of a
    'small *' part exceeds 2x the average supplier's share (integer
    cross-multiply qty*nsupp > 2*total — scale-free, so the result stays
    non-vacuous from sf0.001 to sf10, where a fixed 50% cut would empty
    out as supplier counts grow). Two-level aggregate on the SAME partkey
    shuffle (the second level reuses the first's partitioning), then the
    qualifying (part, supp) pairs join broadcast supplier→nation dims."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small %")).select(
        "p_partkey"
    )
    vol = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").cast("date").between("1997-01-01", "1997-12-31"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("qty"))
    )
    tot = vol.groupBy("l_partkey").agg(
        F.sum("qty").alias("total"), F.count("*").alias("nsupp")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )
    return (
        vol.join(tot, "l_partkey")
        .filter(F.col("qty") * F.col("nsupp") > 2 * F.col("total"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_name", "nation")
        .distinct()
    )


# --- q111: suppliers who kept orders waiting (TPC-H Q21 shape) --------------

_Q111_ORACLE = """
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                 CAST(l_shipdate AS DATE)) > 360
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
), per_order AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late
  FROM per_supp GROUP BY l_orderkey
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_supp
JOIN per_order USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE per_supp.is_late = 1 AND per_order.n_supp > 1 AND per_order.n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@register("q111_waiting_suppliers", _Q111_ORACLE, "sole-late-supplier self-correlation (TPC-H Q21 shape)")
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's EXISTS/NOT-EXISTS pair rewritten as aggregates: instead of two
    self-joins of lineitem against itself (the textbook plan — O(order
    fanout^2) row pairs at 100 TB), aggregate once per (order, supplier)
    with a late flag, once per order for (n_supp, n_late), and select the
    late supplier where n_supp>1 and n_late=1 — the same semantics, one
    orderkey-partitioned pipeline with no self-join. 'Late' = shipped >360
    days after order date (no commitdate/receiptdate in the fixture).
    Final top-20 is TakeOrdered on the total order (numwait DESC, s_name),
    so the limit is deterministic across engines."""
    lag = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    per_supp = (
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(lag > 360, 1).otherwise(0)).alias("is_late"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.filter(F.col("is_late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )
