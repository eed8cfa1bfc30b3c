"""Relational operator queries (SURVEY.md §2.1-§2.8) over the driver's
synthetic tables, each paired with a DuckDB oracle.

The banking-domain machinery (ingest/rules/store/analytics modules) is
exercised here on the synthetic tables wherever the schema allows — e.g.
q07/q08 run the real rule-cascade compiler — and end-to-end on fixture CSVs
in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..rules import PredicateRule, SubstringRule, apply_cascade, rules_from_map
from . import cents_avg, cents_sum, load, register, spread, sql_cents_avg, sql_cents_sum


def cents(c):
    """2-decimal double → exact integer cents (see package docstring)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.round(c * 100).cast("long")


# --- q01: TPC-H Q1-shaped pricing summary (A1 A5 P5 P14) ------------------

_Q01_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {sql_cents_sum('l_quantity', 'sum_qty')},
       {sql_cents_sum('l_extendedprice', 'sum_base_price')},
       {sql_cents_sum('l_extendedprice * (1.0 - l_discount)', 'sum_disc_price')},
       {sql_cents_avg('l_quantity', 'avg_qty')},
       {sql_cents_avg('l_extendedprice', 'avg_price')},
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q01_pricing_summary", _Q01_ORACLE, "groupBy 2 keys + 6 aggregates (TPC-H Q1 shape)")
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2000-01-01 00:00:00"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        cents_sum("l_quantity", "sum_qty"),
        cents_sum("l_extendedprice", "sum_base_price"),
        cents_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "sum_disc_price"),
        cents_avg("l_quantity", "avg_qty"),
        cents_avg("l_extendedprice", "avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --- q02: filter + projection passthrough (P1 F6 F8) ----------------------

_Q02_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
WHERE o_totalprice > 300000
  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
"""


@register("q02_filter_project", _Q02_ORACLE, "predicate pushdown + column pruning")
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_totalprice") > 300000)
        & (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00"))
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


# --- q03: conditional labeling (P9 P10 F6) --------------------------------

_Q03_ORACLE = f"""
SELECT event_type,
       CASE WHEN value > 100 THEN 'high' WHEN value > 10 THEN 'mid' ELSE 'low' END AS band,
       CAST(count(*) AS BIGINT) AS n,
       {sql_cents_sum('value', 'total_value')}
FROM events
GROUP BY 1, 2
"""


@register("q03_conditional_label", _Q03_ORACLE, "when/otherwise banding + agg")
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") > 100, "high").when(F.col("value") > 10, "mid").otherwise("low")
    ).alias("band")
    return e.groupBy("event_type", band).agg(
        F.count(F.lit(1)).alias("n"), cents_sum("value", "total_value")
    )


# --- q04: null normalize + coalesce precedence (P7 P8 P10) ----------------

_Q04_ORACLE = """
SELECT coalesce(nullif(o_orderpriority, '3-MEDIUM'), 'DEFAULT') AS effective_priority,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY 1
"""


@register("q04_null_coalesce", _Q04_ORACLE, "nullif/coalesce precedence chain")
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    eff = F.coalesce(F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")), F.lit("DEFAULT"))
    return o.groupBy(eff.alias("effective_priority")).agg(F.count(F.lit(1)).alias("n"))


# --- q05: German number parse round-trip (P4) -----------------------------

_Q05_ORACLE = """
WITH g AS (
  SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS dec_price,
         replace(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR), '.', ',') AS german
  FROM lineitem
), p AS (
  SELECT dec_price,
         CAST(replace(replace(german, '.', ''), ',', '.') AS DECIMAL(18,2)) AS parsed
  FROM g
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE parsed = dec_price) AS BIGINT) AS n_roundtrip_ok,
       CAST(sum(parsed) AS DOUBLE) AS total
FROM p
"""


@register("q05_german_numbers", _Q05_ORACLE, "German decimal format parse (reference P4)")
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import parse_german_number

    li = spread(load(spark, sf_dir, "lineitem").select("l_extendedprice"))
    dec_price = F.col("l_extendedprice").cast("decimal(12,2)")
    german = F.translate(dec_price.cast("string"), ".", ",")
    p = li.select(
        dec_price.alias("dec_price"), parse_german_number(german).alias("parsed")
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("parsed") == F.col("dec_price"), 1)).alias("n_roundtrip_ok"),
        F.sum("parsed").cast("double").alias("total"),
    )


# --- q06: SHA-256 natural-key fingerprint (P11) ---------------------------

_Q06_ORACLE = """
SELECT o_orderkey,
       sha256(concat_ws('|',
              CAST(o_orderkey AS VARCHAR),
              coalesce(o_orderstatus, ''),
              strftime(o_orderdate, '%Y-%m-%d'),
              CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR))) AS fp
FROM orders
"""


@register("q06_fingerprint", _Q06_ORACLE, "sha2 content fingerprint, null-padded concat")
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spread(
        load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
        )
    )
    fp = F.sha2(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.coalesce(F.col("o_orderstatus"), F.lit("")),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            cents("o_totalprice").cast("string"),
        ),
        256,
    )
    return o.select("o_orderkey", fp.alias("fp"))


# --- q07: rule cascade, last-match-wins (F1 F12 §2.3) ---------------------

_DOC_RULES = rules_from_map(
    {
        "query-doc": {"text": ["query"]},
        "join-doc": {"text": ["join"]},
        "window-doc": {"text": ["window"]},
        "stream-doc": {"text": ["stream"]},
    }
)

_Q07_ORACLE = """
SELECT coalesce(CASE
         WHEN contains(lower(text), 'stream') THEN 'stream-doc'
         WHEN contains(lower(text), 'window') THEN 'window-doc'
         WHEN contains(lower(text), 'join')   THEN 'join-doc'
         WHEN contains(lower(text), 'query')  THEN 'query-doc'
       END, 'uncategorized') AS category,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
"""


@register("q07_rule_cascade", _Q07_ORACLE, "ordered substring cascade via compile_cascade")
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = apply_cascade(d, _DOC_RULES)
    return (
        d.withColumn("category", F.coalesce("category", F.lit("uncategorized")))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
    )


# --- q08: scoped + predicate rules (F2 F5 F6 §2.3 special cases) ----------

_ORDER_RULES = [
    SubstringRule("urgent-open", "o_orderpriority", "URGENT", account="O"),
    SubstringRule("low-prio", "o_orderpriority", "low"),
    PredicateRule("big-ticket", lambda: F.col("o_totalprice") > 400000),
]

_Q08_ORACLE = """
SELECT coalesce(CASE
         WHEN o_totalprice > 400000 THEN 'big-ticket'
         WHEN contains(lower(o_orderpriority), 'low') THEN 'low-prio'
         WHEN contains(lower(o_orderpriority), 'urgent') AND o_orderstatus = 'O'
           THEN 'urgent-open'
       END, 'none') AS category,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY 1
"""


@register("q08_scoped_rules", _Q08_ORACLE, "account-scoped + predicate rules, cascade precedence")
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").withColumn("account", F.col("o_orderstatus"))
    o = apply_cascade(o, _ORDER_RULES)
    return (
        o.withColumn("category", F.coalesce("category", F.lit("none")))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- q09: year extraction agg (F7) ----------------------------------------

_Q09_ORACLE = f"""
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(count(*) AS BIGINT) AS n,
       {sql_cents_sum('o_totalprice', 'total')}
FROM orders
GROUP BY 1
"""


@register("q09_year_agg", _Q09_ORACLE, "year() extraction + agg")
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").cast("int").alias("yr")).agg(
        F.count(F.lit(1)).alias("n"), cents_sum("o_totalprice", "total")
    )


# --- q10: pivot matrix (A6) -----------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

_Q10_ORACLE = (
    "SELECT c_nationkey, "
    + ", ".join(
        f"CAST(sum(CASE WHEN c_mktsegment = '{s}' THEN CAST(round(c_acctbal * 100) AS BIGINT) END) AS BIGINT) / 100.0 AS \"{s}\""
        for s in _SEGMENTS
    )
    + " FROM customer GROUP BY c_nationkey"
)


@register("q10_pivot", _Q10_ORACLE, "groupBy + pivot with explicit value list")
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .pivot("c_mktsegment", _SEGMENTS)
        .agg(F.sum(cents("c_acctbal")) / F.lit(100.0))
    )


# --- q11: rollup grand total (A7) -----------------------------------------

_Q11_ORACLE = f"""
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       {sql_cents_sum('l_quantity', 'sum_qty')}
FROM lineitem
GROUP BY ROLLUP(l_returnflag)
"""


@register("q11_rollup", _Q11_ORACLE, "rollup with grand-total row")
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), cents_sum("l_quantity", "sum_qty"))
        .withColumn("l_returnflag", F.coalesce("l_returnflag", F.lit("ALL")))
    )


# --- q12: deterministic first-wins dedup (A8 J2) --------------------------


def _bounded(c: Column | str, limit: int, what: str | None = None) -> Column:
    """Pass `c` through unchanged while asserting 0 <= c < limit at runtime
    (codegen branch; raise_error only evaluates on violation)."""
    col = F.col(c) if isinstance(c, str) else c
    name = what or (c if isinstance(c, str) else "packed field")
    return F.when((col >= 0) & (col < limit), col).otherwise(
        F.raise_error(F.lit(f"{name} out of [0, {limit}) packing bound"))
    )


# NB: the tie-break must be a TOTAL order within the dedup key — the data
# contains groups tied on (l_linenumber, l_suppkey) alone, where "first"
# would be engine-sort-stability luck; l_quantity completes the order.
_Q12_ORACLE = """
SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
FROM lineitem
QUALIFY row_number() OVER (
  PARTITION BY l_orderkey, l_partkey
  ORDER BY l_linenumber, l_suppkey, l_quantity) = 1
"""


@register("q12_dedup_first_wins", _Q12_ORACLE, "existing-wins dedup via packed-bigint min aggregate")
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic first-wins dedup (the J2 'existing row wins' semantic —
    never dropDuplicates, which keeps an arbitrary row). Executed as a
    hash aggregate rather than a row_number window: partial aggregation
    means each map task ships ONE candidate row per key into the shuffle
    instead of every row, and no per-group sort happens — the shape that
    wins when dup rates are high at 100 TB. The oracle stays the
    independent QUALIFY row_number definition; the packed tie-break is a
    total order within the group, so both forms pick the same row."""
    li = load(spark, sf_dir, "lineitem")
    # The tie-break tuple packs into ONE bigint so the aggregate is a
    # primitive min() inside whole-stage codegen instead of an
    # ObjectHashAggregate min_by over structs (measured 1.74s -> 0.94s at
    # sf0.1; same map-side-partial shape). Packing is order-preserving
    # because each field is range-bounded; the guards turn a bound
    # violation into a loud error, never a silently wrong winner — and
    # `store.merge_import`/min_by remains the general-domain form.
    # Bound budget: 1e2 * 1e11 * 1e5 = 1e18 < 2^63. Line numbers are tiny
    # (TPC-H: 1..7), so their headroom goes to the suppkey field — key
    # spaces grow with the corpus (the 5x synthetic scale-up's key-offset
    # copies tripped the old 1e7 suppkey bound; loud error, as designed).
    ln = _bounded("l_linenumber", 10**2)
    sk = _bounded("l_suppkey", 10**11)
    qc = _bounded(F.round(F.col("l_quantity") * 100), 10**5, "l_quantity cents")
    pack = ln.cast("long") * F.lit(10**16) + sk.cast("long") * F.lit(10**5) + qc.cast("long")
    return (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(F.min(pack).alias("_p"))
        .select(
            "l_orderkey",
            "l_partkey",
            (F.col("_p") % F.lit(10**16) / F.lit(10**5)).cast("long").alias("l_suppkey"),
            ((F.col("_p") % F.lit(10**5)).cast("double") / 100.0).alias("l_quantity"),
        )
    )


# --- q13: partitioned running total (W1) ----------------------------------

_Q13_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
       AS running_total
FROM orders
"""


@register("q13_running_total", _Q13_ORACLE, "cumulative sum window, partition-parallel")
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = (F.sum(cents("o_totalprice")).over(w) / F.lit(100.0)).alias("running_total")
    return o.select("o_custkey", "o_orderkey", running)


# --- q14: sequential id assignment (W2 P13) -------------------------------

_Q14_ORACLE = """
SELECT o_orderkey,
       row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS tid
FROM orders
"""


@register("q14_sequential_ids", _Q14_ORACLE, "global sequential ids, two-phase (no global window)")
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase numbering (operators.sequential_ids): a partition-less
    row_number window would drag the whole table through ONE task at
    scale; the range-partition + broadcast-offset form is exact-equal and
    parallel (the plan gate in test_plans.py forbids the naive form)."""
    from ..operators import sequential_ids

    o = load(spark, sf_dir, "orders")
    return sequential_ids(
        o.select("o_orderkey", "o_orderdate"), ["o_orderdate", "o_orderkey"]
    ).select("o_orderkey", "tid")


# --- q15: top-k per group (window + filter) -------------------------------

_Q15_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
FROM orders
QUALIFY rk <= 3
"""


@register("q15_topk_per_group", _Q15_ORACLE, "top-3 per customer via ranked window")
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


# --- q16: snowflake broadcast joins (J3) ----------------------------------

_Q16_ORACLE = f"""
SELECT r_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       {sql_cents_sum('c_acctbal', 'total_acctbal')}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@register("q16_broadcast_join", _Q16_ORACLE, "fact ⋈ broadcast dims (customer→nation→region)")
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), cents_sum("c_acctbal", "total_acctbal"))
    )


# --- q17: anti join (J1 J2) -----------------------------------------------

_Q17_ORACLE = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_inactive
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND CAST(o_orderdate AS DATE) >= DATE '2001-01-01')
GROUP BY c_mktsegment
"""


@register("q17_anti_join", _Q17_ORACLE, "left_anti join (NOT EXISTS)")
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no order in the final year — scoped so the anti join
    has real survivors at every verification scale (the unscoped form was
    structurally EMPTY: every fixture customer has some order, so the check
    hash-matched two empty sets and proved nothing). The date filter pushes
    into the anti side's scan before the custkey shuffle."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") >= F.lit("2001-01-01")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


# --- q18: semi join (EXISTS) ----------------------------------------------

_Q18_ORACLE = """
SELECT s_suppkey, s_name
FROM supplier
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_suppkey = s_suppkey AND l_shipdate >= TIMESTAMP '2000-06-01 00:00:00')
"""


@register("q18_semi_join", _Q18_ORACLE, "left_semi join (EXISTS)")
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2000-06-01 00:00:00")
    )
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select("s_suppkey", "s_name")


# --- q19: outer join + null-fill (J-shape, P10) ---------------------------

_Q19_ORACLE = """
SELECT o_orderkey,
       coalesce(li.n_items, 0) AS n_items,
       coalesce(li.rev_cents, 0) / 100.0 AS revenue
FROM orders
LEFT JOIN (
  SELECT l_orderkey,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem GROUP BY l_orderkey) li
ON o_orderkey = li.l_orderkey
"""


@register("q19_outer_join", _Q19_ORACLE, "left outer join vs pre-aggregated child + null fill")
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))).alias("rev_cents"),
        )
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .select(
            "o_orderkey",
            F.coalesce("n_items", F.lit(0)).alias("n_items"),
            (F.coalesce("rev_cents", F.lit(0)) / F.lit(100.0)).alias("revenue"),
        )
    )


# --- q20: set operations (O3) ---------------------------------------------

_Q20_ORACLE = """
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM (
     SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
     UNION
     SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')) AS n_union,
  (SELECT CAST(count(*) AS BIGINT) FROM (
     SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
     INTERSECT
     SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')) AS n_intersect,
  (SELECT CAST(count(*) AS BIGINT) FROM (
     SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
     EXCEPT
     SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')) AS n_except
"""


@register("q20_set_ops", _Q20_ORACLE, "union/intersect/except distinct semantics")
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00")).select("o_custkey")
    n_union = a.union(b).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    n_intersect = a.intersect(b).agg(F.count(F.lit(1)).alias("n_intersect"))
    n_except = a.subtract(b).agg(F.count(F.lit(1)).alias("n_except"))
    return n_union.crossJoin(n_intersect).crossJoin(n_except)


# --- q21: deterministic global top-N (O1/O2 + limit) ----------------------

_Q21_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
QUALIFY row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) <= 20
"""


@register("q21_top_n", _Q21_ORACLE, "global top-20 via TakeOrderedAndProject")
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy + limit plans as TakeOrderedAndProject: each partition keeps
    its local top-20 and only those reach the driver-side merge — O(N)
    scan, no global sort, no single-partition window (the previous
    row_number form was a scale-killer by construction)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


# --- q22: regex extraction from JSON-ish text (P12 F3) --------------------

_Q22_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
"""


@register("q22_regex_extract", _Q22_ORACLE, "regexp_extract capture group + numeric agg")
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("long")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


# --- q23: case-insensitive search (F1 F3) ---------------------------------

_Q23_ORACLE = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_match
FROM documents
WHERE contains(lower(text), 'join') OR regexp_matches(text, '(?i)(window|stream)')
GROUP BY lang
"""


@register("q23_ci_search", _Q23_ORACLE, "literal contains + case-insensitive regex disjunction")
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cond = F.lower(F.col("text")).contains("join") | F.col("text").rlike("(?i)(window|stream)")
    return d.filter(cond).groupBy("lang").agg(F.count(F.lit(1)).alias("n_match"))


# --- q24: date bucketing + exact distinct (F7 + beyond-ref) ---------------

_Q24_ORACLE = f"""
SELECT CAST(ts AS DATE) AS d,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {sql_cents_sum('value', 'total_value')}
FROM events
GROUP BY 1
"""


@register("q24_daily_users", _Q24_ORACLE, "to_date bucketing + countDistinct")
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        cents_sum("value", "total_value"),
    )


# --- q25: tumbling time window (batch mirror of streaming agg) ------------

_Q25_ORACLE = f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       {sql_cents_sum('value', 'total_value')}
FROM events
GROUP BY 1, 2
"""


@register("q25_tumbling_window", _Q25_ORACLE, "hourly tumbling window agg (streaming-shape)")
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), cents_sum("value", "total_value"))


# --- q26: sessionization (lag + gap cumsum) -------------------------------

_Q26_ORACLE = """
WITH g AS (
  SELECT user_id, event_id,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
              OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM g
GROUP BY user_id
"""


@register("q26_sessionize", _Q26_ORACLE, "sessionization: lag gap > 30min → session count")
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    new_session = F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
