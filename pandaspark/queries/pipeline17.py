"""Tranche 17: distributed-retrieval and storage-advisor primitives.

q195 threshold-algorithm top-k: the Fagin/TA shape of distributed top-k
over a huge key space. Rows shard by a row-level hash (S=8 here, the
stand-in for S=thousands of splits at 100 TB); each shard keeps only its
top-m per-key partials plus its m-th partial as a local threshold. Any
key absent from every shard's candidate list is bounded above by the SUM
of the shard thresholds — so when the k-th candidate total clears that
bound, the pruned answer is PROVABLY the exact top-k without a second
full pass. The report carries the exact top-k (the audit), the bound,
the per-key pruning outcome, and the certificate bit; the property test
pins the TA guarantee (certificate => pruned == exact). At 100 TB the
win is what crosses the shuffle: S*m candidate partials instead of one
partial per distinct key.

q196 sliding-window distinct via HLL register merge: q182's portable
integer-rho HyperLogLog, maintained per DAY and merged across a 7-day
window by register max — the mergeability that makes sketches useful:
the slide never re-reads events, it max-merges 7*m register rows per
day. Exact sliding NDV rides along as the error audit (at 100 TB you
would keep only the register path).

q197 column-encoding advisor: the storage-layer decision a columnar
writer makes per column — dictionary vs plain — priced from one stats
pass: plain cost = total value bytes; dict cost = distinct value bytes
+ n * code width (1/2/4 bytes by NDV). Integer arithmetic end-to-end,
so the recommendation is cross-engine exact. The stats pass is the only
data touch; at 100 TB it is per-column aggregates with tiny outputs
(and in practice runs per row-group, which only shrinks it).

Scale notes: no driver collects, no Python UDFs, no windows over
unbounded input; q195's only joins are candidate-bounded, q196 joins
register rows (m per day) never events, q197 is pure aggregation.

Reference parity: none — beyond-reference engine surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load, register, round4, sha_int, spread, sql_round4, sql_sha_int
from .sketches import hll_estimate, hll_registers, sql_hll_estimate, sql_hll_registers

# --- q195: threshold-algorithm distributed top-k -----------------------------

_TA_SHARDS = 8
_TA_M = 24  # per-shard candidate list length
_TA_K = 10

_SQL_SHARD = (
    sql_sha_int("CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)")
    + f" % {_TA_SHARDS}"
)

_Q195_ORACLE = f"""
WITH rows_s AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, {_SQL_SHARD} AS shard
  FROM lineitem
),
partials AS (
  SELECT shard, l_partkey, CAST(sum(qty) AS BIGINT) AS part_qty
  FROM rows_s GROUP BY shard, l_partkey
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY shard
                               ORDER BY part_qty DESC, l_partkey) AS rn
  FROM partials
),
cand_keys AS (SELECT DISTINCT l_partkey FROM ranked WHERE rn <= {_TA_M}),
thresholds AS (
  SELECT CAST(sum(part_qty) AS BIGINT) AS bound
  FROM ranked WHERE rn = {_TA_M}
),
cand_totals AS (
  SELECT p.l_partkey, CAST(sum(part_qty) AS BIGINT) AS pruned_total
  FROM partials p JOIN cand_keys USING (l_partkey)
  GROUP BY p.l_partkey
),
pruned_topk AS (
  SELECT l_partkey, pruned_total,
         row_number() OVER (ORDER BY pruned_total DESC, l_partkey) AS rnk
  FROM cand_totals
),
exact_topk AS (
  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS exact_total,
         row_number() OVER (ORDER BY sum(qty) DESC, l_partkey) AS rnk
  FROM rows_s GROUP BY l_partkey
)
SELECT e.rnk AS rank, e.l_partkey, e.exact_total,
       p.l_partkey IS NOT NULL AND p.l_partkey = e.l_partkey AS pruned_agrees,
       (SELECT bound FROM thresholds) AS threshold_bound,
       (SELECT CAST(pruned_total AS BIGINT) FROM pruned_topk WHERE rnk = {_TA_K})
         >= (SELECT bound FROM thresholds) AS certificate_ok
FROM exact_topk e
LEFT JOIN pruned_topk p ON e.rnk = p.rnk
WHERE e.rnk <= {_TA_K}
"""


@register(
    "q195_threshold_topk",
    _Q195_ORACLE,
    "Fagin/TA distributed top-k: per-shard candidate pruning with exactness certificate",
)
def q195(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        (
            sha_int(
                F.concat_ws(
                    "#",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % _TA_SHARDS
        ).alias("shard"),
    )
    # ONE materialization of the per-(shard, key) partial sums: every
    # downstream leg (ranked/bound, cand_totals, exact audit) reads the
    # checkpoint instead of re-running the scan + 600k-row sha256 shard
    # hash + partial aggregate (the before-plan had SIX lineitem scans and
    # computed the shard hash at least twice — exchange reuse does not
    # fire across these branches; guide §2.4). Measured at sf0.1
    # (interleaved, 6 pairs): 3.25 → 2.03 s min, new side faster in every
    # pair. At 100 TB this is the difference between one fact-table pass
    # and two-plus.
    partials = spread(li).groupBy("shard", "l_partkey").agg(
        F.sum("qty").cast("long").alias("part_qty")
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("shard").orderBy(F.desc("part_qty"), "l_partkey")
    ranked = partials.withColumn("rn", F.row_number().over(w))
    cand_keys = ranked.filter(F.col("rn") <= _TA_M).select("l_partkey").distinct()
    # sum of per-shard m-th partials: the upper bound on ANY pruned key
    bound = (
        ranked.filter(F.col("rn") == _TA_M)
        .agg(F.sum("part_qty").cast("long").alias("bound"))
    )
    cand_totals = (
        partials.join(cand_keys, "l_partkey")
        .groupBy("l_partkey")
        .agg(F.sum("part_qty").cast("long").alias("pruned_total"))
    )
    wp = Window.orderBy(F.desc("pruned_total"), "l_partkey")
    pruned_topk = (
        cand_totals.withColumn("rnk", F.row_number().over(wp))
        .filter(F.col("rnk") <= _TA_K)
        .select("rnk", F.col("l_partkey").alias("pk_pruned"), "pruned_total")
    )
    we = Window.orderBy(F.desc("exact_total"), "l_partkey")
    # exact audit FROM the partials (sum of per-shard BIGINT sums ==
    # direct BIGINT sum — integer addition is associative, so this is
    # bit-identical to the full-scan form while replacing a second
    # 600k-row pass with an aggregate over the ~shards×keys partials
    # (guide §2.3 "aggregate before you shuffle")
    exact_topk = (
        partials.groupBy("l_partkey")
        .agg(F.sum("part_qty").cast("long").alias("exact_total"))
        .withColumn("rnk", F.row_number().over(we))
        .filter(F.col("rnk") <= _TA_K)
    )
    # Aggregate (not filter) so the frame always has exactly one row even
    # when there are fewer than K distinct keys — kth_total is then NULL,
    # matching the oracle's scalar subquery, and certificate_ok is NULL
    # rather than the whole result vanishing under the crossJoin.
    kth = pruned_topk.agg(
        F.max(
            F.when(F.col("rnk") == _TA_K, F.col("pruned_total"))
        ).alias("kth_total")
    )
    return (
        exact_topk.join(pruned_topk, "rnk", "left")
        .crossJoin(F.broadcast(bound))
        .crossJoin(F.broadcast(kth))
        .select(
            F.col("rnk").cast("long").alias("rank"),
            "l_partkey",
            "exact_total",
            (
                F.col("pk_pruned").isNotNull()
                & (F.col("pk_pruned") == F.col("l_partkey"))
            ).alias("pruned_agrees"),
            F.col("bound").alias("threshold_bound"),
            (F.col("kth_total") >= F.col("bound")).alias("certificate_ok"),
        )
    )


# --- q196: sliding-window distinct via HLL register max-merge ----------------

_WIN_DAYS = 7


_Q196_ORACLE = f"""
WITH h AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
day_reg AS ({sql_hll_registers('h', 'day', 'user_id')}),
spine AS (SELECT DISTINCT day FROM h),
win_reg AS (
  SELECT s.day, dr.idx, max(dr.mreg) AS mreg,
         count(DISTINCT dr.day) AS days_seen
  FROM spine s JOIN day_reg dr
    ON dr.day BETWEEN s.day - {_WIN_DAYS - 1} AND s.day
  GROUP BY s.day, dr.idx
),
est AS ({sql_hll_estimate('win_reg', 'day')}),
exact AS (
  SELECT s.day, CAST(count(DISTINCT h.user_id) AS BIGINT) AS exact_ndv
  FROM spine s JOIN h ON h.day BETWEEN s.day - {_WIN_DAYS - 1} AND s.day
  GROUP BY s.day
)
SELECT e.day, n_regs_hit, hll_est, exact_ndv,
       {sql_round4('(hll_est - exact_ndv) / exact_ndv')} AS rel_err
FROM est e JOIN exact USING (day)
"""


@register(
    "q196_hll_sliding_distinct",
    _Q196_ORACLE,
    "7-day sliding NDV by HLL register max-merge — the slide never re-reads events",
)
def q196(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HLL registers (q182's integer-rho family) max-merged across
    a trailing 7-day window: sketch union IS aggregation, so the sliding
    merge touches m register rows per day instead of the event rows. The
    exact sliding NDV joins on as the error audit."""
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    # ONE distinct-(day, user) frame feeds the registers, the day spine AND
    # the exact audit (q182/q58's shape): within-day duplicates cannot
    # change max(rho) or countDistinct, so results are identical while the
    # sha256 runs once per distinct pair and the event scan happens once
    # instead of three times. Interleaved sf0.1 A/B: 0.96 → 0.85 s min,
    # faster in 4/5 pairs.
    okd = ev.distinct().localCheckpoint(eager=False)
    day_reg = hll_registers(okd, "day", "user_id")
    spine = okd.select("day").distinct()
    win_reg = (
        spine.alias("s")
        .join(
            day_reg.alias("dr"),
            F.col("dr.day").between(
                F.date_sub(F.col("s.day"), _WIN_DAYS - 1), F.col("s.day")
            ),
        )
        .groupBy(F.col("s.day").alias("day"), F.col("dr.idx").alias("idx"))
        .agg(F.max("dr.mreg").alias("mreg"))
    )
    est = hll_estimate(win_reg, "day")
    exact = (
        spine.alias("s2")
        .join(
            okd.alias("e"),
            F.col("e.day").between(
                F.date_sub(F.col("s2.day"), _WIN_DAYS - 1), F.col("s2.day")
            ),
        )
        .groupBy(F.col("s2.day").alias("day"))
        .agg(F.countDistinct("e.user_id").cast("long").alias("exact_ndv"))
    )
    return est.join(exact, "day").select(
        "day",
        "n_regs_hit",
        "hll_est",
        "exact_ndv",
        round4((F.col("hll_est") - F.col("exact_ndv")) / F.col("exact_ndv")).alias(
            "rel_err"
        ),
    )


# --- q197: column-encoding advisor --------------------------------------------

# (table, column) candidates a columnar writer would price
_ENC_COLS = [
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("lineitem", "l_returnflag"),
    ("lineitem", "l_linestatus"),
    ("documents", "source"),
    ("documents", "lang"),
]


def _sql_enc(table: str, col: str) -> str:
    return f"""
SELECT '{table}.{col}' AS column_name,
       CAST(n AS BIGINT) AS n_values,
       CAST(ndv AS BIGINT) AS ndv,
       CAST(plain_bytes AS BIGINT) AS plain_bytes,
       CAST(dict_value_bytes + n * code_bytes AS BIGINT) AS dict_bytes,
       dict_value_bytes + n * code_bytes < plain_bytes AS use_dict
FROM (
  SELECT count({col}) AS n,
         count(DISTINCT {col}) AS ndv,
         CAST(sum(length(CAST({col} AS VARCHAR))) AS BIGINT) AS plain_bytes,
         (SELECT CAST(sum(length(v)) AS BIGINT)
          FROM (SELECT DISTINCT CAST({col} AS VARCHAR) AS v FROM {table}
                WHERE {col} IS NOT NULL)) AS dict_value_bytes,
         CASE WHEN count(DISTINCT {col}) <= 256 THEN 1
              WHEN count(DISTINCT {col}) <= 65536 THEN 2 ELSE 4 END AS code_bytes
  FROM {table}
)"""


_Q197_ORACLE = "\nUNION ALL".join(_sql_enc(t, c) for t, c in _ENC_COLS)


@register(
    "q197_encoding_advisor",
    _Q197_ORACLE,
    "dictionary-vs-plain encoding pricing per column from one stats pass",
)
def q197(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prices both encodings from per-column aggregates: plain = total
    value bytes; dict = distinct value bytes + n * code width (1/2/4 by
    NDV). Integer arithmetic only — cross-engine exact recommendation.

    ONE scan per TABLE (guide §2.4): both candidate columns of a table
    explode into (column_name, value) rows off a single pass, then ONE
    per-value histogram keyed (column_name, v) serves all four stats for
    both columns. The prior shape scanned each table once per column —
    six scans, six histogram exchanges, zero exchange reuse (before-plan
    committed); this one does three of each. Aggregates are unchanged per
    column, so the result is identical (null handling: count("v") and the
    byte sums skip the null group on their own; the coalesce covers the
    empty-input SUM like before). Measured at sf0.1 (interleaved, 6
    pairs): 1.40 → 0.94 s min, new side faster in every pair."""
    out = None
    per_table: dict[str, list[str]] = {}
    for t, c in _ENC_COLS:
        per_table.setdefault(t, []).append(c)
    for table, cols in per_table.items():
        df = load(spark, sf_dir, table).select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f"{table}.{c}").alias("column_name"),
                            F.col(c).cast("string").alias("v"),
                        )
                        for c in cols
                    ]
                )
            ).alias("e")
        ).select("e.column_name", "e.v")
        g = df.groupBy("column_name", "v").agg(F.count(F.lit(1)).alias("cnt"))
        # one NULL-valued zero-count seed row per column: guarantees each
        # column's group EXISTS on empty input (the oracle's scalar
        # aggregates always yield a row; tests/test_empty_input_profiles.py
        # pins 6 rows with n=0 / NULL byte sums) while changing no
        # aggregate on real data — n adds the otherwise(0) branch, ndv's
        # count("v") skips the NULL v, and both byte sums skip
        # length(NULL). A per-column filter instead of this seed loses the
        # shared histogram again: the group-key predicate pushes through
        # the aggregate and splits the scan (measured flat).
        seed = spark.range(1).select(
            F.explode(
                F.array(*[F.lit(f"{table}.{c}") for c in cols])
            ).alias("column_name"),
            F.lit(None).cast("string").alias("v"),
            F.lit(0).cast("long").alias("cnt"),
        )
        stats = g.unionByName(seed).groupBy("column_name").agg(
            # coalesce: SUM over an empty histogram is NULL where the
            # oracle's count(col) is 0 (the byte sums stay NULL on empty
            # input on BOTH engines, so only n needs it)
            F.coalesce(
                F.sum(F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(0)),
                F.lit(0).cast("long"),
            ).alias("n"),
            F.count("v").alias("ndv"),
            F.sum(F.length("v") * F.col("cnt")).cast("long").alias("plain_bytes"),
            F.sum(F.length("v")).cast("long").alias("dict_value_bytes"),
        )
        code = (
            F.when(F.col("ndv") <= 256, F.lit(1))
            .when(F.col("ndv") <= 65536, F.lit(2))
            .otherwise(F.lit(4))
        )
        prof = stats.select(
            "column_name",
            F.col("n").cast("long").alias("n_values"),
            F.col("ndv").cast("long").alias("ndv"),
            F.col("plain_bytes"),
            (F.col("dict_value_bytes") + F.col("n") * code)
            .cast("long")
            .alias("dict_bytes"),
            (
                F.col("dict_value_bytes") + F.col("n") * code < F.col("plain_bytes")
            ).alias("use_dict"),
        )
        out = prof if out is None else out.unionByName(prof)
    return out
