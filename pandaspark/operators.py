"""Composite operators Spark lacks natively (SURVEY.md §2.4 note,
pyspark guide 'Common OLAP patterns'): as-of join, salted join,
latest-per-key compaction, two-phase global ranks and running totals,
bucket-refine quantiles, and the byte-gated broadcast. All compositions
of built-in ops — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _rename_right(
    left: DataFrame,
    right: DataFrame,
    right_on: Column | str,
    right_time: str,
    tiebreak: list[str] | None,
) -> tuple[DataFrame, Column | str, str, list[str]]:
    """The as-of joins' right side with `_right` appended to every column
    name it shares with `left` (so the joined frame has unique names), and
    the right-side column names passed along renamed to match."""
    renames = {c: c + "_right" for c in right.columns if c in left.columns}
    if isinstance(right_on, str):
        right_on = renames.get(right_on, right_on)
    return (
        right.withColumnsRenamed(renames),
        right_on,
        renames.get(right_time, right_time),
        [renames.get(c, c) for c in (tiebreak or [])],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: Column | str,
    right_on: Column | str,
    left_time: str = "ts",
    right_time: str = "ts",
    how: str = "left",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with matching key and
    right_time <= left_time (a backward as-of join).

    Implementation: non-equi join + per-left-row window keeping the max
    right_time (deterministic via explicit tiebreak columns). Correct and
    simple; its cost is O(matches). asof_join_bucketed below is the 100 TB
    form — same semantics (tests assert exact equality), bounded fanout.
    This function is the semantic anchor the scale variants must match.
    """
    right, right_on, right_time, tiebreak = _rename_right(
        left, right, right_on, right_time, tiebreak
    )
    lt, rt = left[left_time], right[right_time]
    lkey = left[left_on] if isinstance(left_on, str) else left_on
    rkey = right[right_on] if isinstance(right_on, str) else right_on
    j = left.join(right, (rkey == lkey) & (rt <= lt), how)
    order = [rt.desc_nulls_last()] + [F.col(c).desc_nulls_last() for c in tiebreak]
    w = Window.partitionBy(*[left[c] for c in left.columns]).orderBy(*order)
    return j.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_on: Column | str,
    right_on: Column | str,
    left_time: str = "ts",
    right_time: str = "ts",
    tiebreak: list[str] | None = None,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Backward as-of LEFT join without the O(matches) intermediate of the
    anchor form: exact-equal to asof_join (asserted in tests), but every
    stage is bounded by (key, time-bucket), so it survives 100 TB.

    Plan: left and right rows union into one frame bucketed by
    floor(epoch/bucket_seconds).
      1. own-bucket match: a window over (key, bucket) ordered by
         (time, side, tiebreak) carries the latest right payload forward to
         each left row — fanout = rows per bucket, never all matches.
      2. prior buckets: right rows aggregate to ONE max_by row per
         (key, bucket); a carry window over these summaries (rows = number
         of buckets, not rows) finds the latest payload strictly before
         each bucket.
      3. per left row: own-bucket match if present (always later than any
         carry), else the carry row; unmatched left rows keep nulls (LEFT
         join semantics, same as the anchor).
    """
    right, right_on, right_time, tiebreak = _rename_right(
        left, right, right_on, right_time, tiebreak
    )
    right = right.filter(F.col(right_time).isNotNull())
    rkey = right[right_on] if isinstance(right_on, str) else right_on
    lkey = left[left_on] if isinstance(left_on, str) else left_on
    payload_cols = right.columns

    def bkt(c: Column) -> Column:
        return F.floor(F.unix_timestamp(c.cast("timestamp")) / F.lit(bucket_seconds))

    # unified frame: left rows (side=1, null payload) + right rows (side=0)
    payload = F.struct(*[F.col(c) for c in payload_cols])
    order_key = F.struct(F.col(right_time), *[F.col(c) for c in tiebreak])
    r_u = right.select(
        rkey.alias("_k"),
        F.col(right_time).cast("timestamp").alias("_t"),
        bkt(F.col(right_time)).alias("_bkt"),
        F.lit(0).alias("_side"),
        payload.alias("_p"),
        order_key.alias("_ord"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
    )
    l_u = left.select(
        lkey.alias("_k"),
        F.col(left_time).cast("timestamp").alias("_t"),
        bkt(F.col(left_time)).alias("_bkt"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r_u.schema["_p"].dataType).alias("_p"),
        F.lit(None).cast(r_u.schema["_ord"].dataType).alias("_ord"),
        *left.columns,
    )
    # 1. within (key, bucket): last right payload at or before each row;
    # right rows sort before left rows at equal time (<= semantics), and
    # among equal right times the largest tiebreak comes last (wins)
    own_w = (
        Window.partitionBy("_k", "_bkt")
        .orderBy(F.col("_t").asc(), F.col("_side").asc(), F.col("_ord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = r_u.unionByName(l_u).withColumn(
        "_own", F.last("_p", ignorenulls=True).over(own_w)
    )
    lefts = unioned.filter(F.col("_side") == 1)

    # 2. one summary row per (key, bucket) of right rows; carry = latest
    # summary strictly before the bucket (window over summaries only)
    summ = right.groupBy(
        rkey.alias("_k"), bkt(F.col(right_time)).alias("_bkt")
    ).agg(F.max_by(payload, order_key).alias("_bucket_last"))
    l_buckets = lefts.select("_k", "_bkt").distinct()
    universe = l_buckets.join(summ, ["_k", "_bkt"], "full")
    carry_w = (
        Window.partitionBy("_k")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = universe.withColumn(
        "_carry", F.last("_bucket_last", ignorenulls=True).over(carry_w)
    ).select("_k", "_bkt", "_carry")

    # 3. own-bucket match wins (its time is >= any prior bucket's)
    best = F.coalesce(F.col("_own"), F.col("_carry"))
    out = lefts.join(carry, ["_k", "_bkt"], "left").select(
        *left.columns, *[best[c].alias(c) for c in payload_cols]
    )
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant inner equi-join: a hot join key funnels all its rows into
    ONE reducer of a shuffle join — the classic straggler at 100 TB. Here
    each left row gets a deterministic salt in [0, salt) (hash of the full
    row, so retries re-salt identically) and the right side replicates once
    per salt value; joining on (key, salt) spreads a hot key's probe work
    across `salt` tasks at the cost of salt-times the (small but
    unbroadcastable) right side. Exact-equal to the plain join by test.

    Use when the right side is too big to broadcast AND the left is
    skewed; with AQE on, skew-join splitting does this adaptively for
    sort-merge joins — this is the static, plan-deterministic form (the
    join sibling of q50's salted two-phase aggregation)."""
    l_salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    lefts = left.withColumn("_salt", l_salt)
    rights = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return lefts.join(rights, [on, "_salt"]).drop("_salt")


def latest_per_key(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """CDC-style compaction: the newest row per key (deterministic order).
    The window shuffles once on the key — the minimal plan for this op."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in order_by])
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _sum_before(col: str, w: WindowSpec) -> Column:
    """Exclusive prefix sum of `col` in `w`'s order: the sum over the rows
    before this one, 0 for the first row."""
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    return F.coalesce(F.sum(col).over(prior), F.lit(0).cast("long"))


def _two_phase(
    df: DataFrame, order_cols: list[str], value: Column | None = None
) -> DataFrame:
    """Global prefix counts (and prefix sums of an exact `value`) in
    `order_cols` order WITHOUT a single-partition window: the 100 TB form
    of SURVEY.md W1/W2/P13 (known-hard list §7.4 item 4) under
    sequential_ids and ranked_running_total.

    Phase 1: repartitionByRange gives range-ordered partitions (equal keys
    co-located, so the numbering is deterministic for any total-order key);
    row_number, and the local cumsum of `value`, run per partition in
    parallel. Phase 2: per-partition counts (and value totals) prefix-sum
    into broadcast offsets; the only single-partition work is a window over
    n_partitions rows. Returns `df`'s rows with `_pid`, `_rn` (1-based
    within the partition), `_n_off` (rows in earlier partitions) and
    `_n_all` (all rows); with `value` also `_v`, `_local_cum` and `_v_off`
    (the value total of earlier partitions). Unused columns prune out of
    the plan. `value` must be exact (integer units) for partial sums plus
    offsets to equal the sequential total bit-for-bit."""
    # CHECKPOINT, not just lineage: repartitionByRange picks its range
    # bounds by sampling with a seed derived from the physical RDD id, so
    # two independent evaluations of the same plan can land rows in
    # DIFFERENT partitions. The offsets job and the numbering job below
    # both read `ranged`; without pinning one materialization they can
    # disagree (observed at 136k input rows: max id 153k > n rows). The
    # checkpoint makes the partition layout a fact, not a plan.
    ranged = (
        df.repartitionByRange(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    row_w = Window.partitionBy("_pid").orderBy(
        *[F.col(c).asc_nulls_first() for c in order_cols]
    )
    windows = {"_rn": F.row_number().over(row_w)}
    totals = [F.count(F.lit(1)).alias("_n")]
    off_w = Window.orderBy("_pid")
    prefixes = [
        _sum_before("_n", off_w).alias("_n_off"),
        F.sum("_n")
        .over(off_w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_n_all"),
    ]
    if value is not None:
        ranged = ranged.withColumn("_v", value)
        cum_w = row_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        windows["_local_cum"] = F.sum("_v").over(cum_w)
        totals.append(F.sum("_v").alias("_part_total"))
        prefixes.append(_sum_before("_part_total", off_w).alias("_v_off"))
    # one Window operator per phase: row_number and the cumsum share the
    # _pid-keyed one, the count and value prefixes the offsets one
    local = ranged.withColumns(windows)
    offsets = local.groupBy("_pid").agg(*totals).select("_pid", *prefixes)
    return local.join(F.broadcast(offsets), "_pid")


def sequential_ids(
    df: DataFrame,
    order_cols: list[str],
    alias: str = "tid",
    start: int = 1,
    total_alias: str | None = None,
) -> DataFrame:
    """Globally-sequential row numbers from `start` in `order_cols` order,
    two-phase (_two_phase) — reference semantic: panda.py:685-691.
    Exact-equal to the global window form by construction (asserted in
    tests).

    total_alias: when set, the output also carries the TOTAL row count in
    that column — it falls out of the phase-2 counts frame for free, so
    consumers that need n (quantile binning, share-of-total) skip a
    separate count job over the ranked frame."""
    out = _two_phase(df, order_cols)
    if total_alias is not None:
        out = out.withColumnRenamed("_n_all", total_alias)
    return out.withColumn(
        alias, (F.col("_rn") + F.col("_n_off") + F.lit(start - 1)).cast("long")
    ).drop("_pid", "_rn", "_n_off", "_n_all")


def ranked_running_total(
    df: DataFrame,
    order_cols: list[str],
    value: Column,
    total_alias: str = "running_total",
) -> DataFrame:
    """Global sequential ids (`rk`, from 1) AND the globally-ordered
    running total of `value` over the SAME total order, in ONE two-phase
    pass (_two_phase) — for consumers that need both (e.g. vocabulary-
    coverage curves: rank terms by frequency and accumulate mass along the
    same order). The range shuffle, the layout checkpoint, the
    per-partition window and the offsets job are paid once for both
    columns. Exact-equal to the global windows (row_number and sum over
    Window.orderBy); asserted in tests/test_operators.py. `value` must be
    exact (integer units)."""
    return (
        _two_phase(df, order_cols, value)
        .withColumn("rk", (F.col("_rn") + F.col("_n_off")).cast("long"))
        .withColumn(total_alias, F.col("_local_cum") + F.col("_v_off"))
        .drop("_pid", "_v", "_rn", "_local_cum", "_n_off", "_n_all", "_v_off")
    )


_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _require_integral(vals: DataFrame, col: str, op: str) -> None:
    """The bucket-refine operators bucket via an arithmetic shift of the
    value cast to long; a fractional value would truncate toward zero
    (-0.5 and 0.5 share bucket 0), silently breaking the bucket-ordering
    invariant and the exactness guarantee. Enforce the documented
    'must be integral' precondition instead of trusting callers."""
    dt = vals.schema[col].dataType
    # DecimalType(p, 0) is exactly integral and buckets correctly after the
    # cast to long, provided it FITS a long (p <= 18; 19-digit decimals can
    # exceed Long.MaxValue and the cast would silently null/wrap)
    if isinstance(dt, T.DecimalType) and dt.scale == 0 and dt.precision <= 18:
        return
    if not isinstance(dt, _INTEGRAL_TYPES):
        raise TypeError(
            f"{op} requires an integral column (got {dt.simpleString()}): "
            "encode exact cents/longs first — fractional values truncate "
            "toward zero and break the bucket-ordering invariant"
        )


def grouped_quantiles_bucket_refine(
    df: DataFrame,
    group_col: str,
    value: Column,
    qs: list[float],
    bucket_bits: int = 10,
) -> DataFrame:
    """Exact interpolated quantiles per group by HISTOGRAM-REFINE selection
    (the grouped_weighted_median pattern generalized to arbitrary rank
    targets) — for near-unique integer domains where the distinct-value
    histogram is corpus-sized, so both the object-hash percentile aggregate
    AND the per-group cumulative window degenerate into per-group
    stragglers.

      1. bucket values coarsely (v >> bucket_bits): a tiny, map-side-
         combinable (group, bucket) count histogram;
      2. per-group prefix sums locate, for every quantile's two bracketing
         ranks (lo = floor(p*(n-1))+1 and hi = min(lo+1, n), 1-based), the
         ONE bucket containing that rank;
      3. only those buckets' rows are re-scanned with a bucket-local
         cumulative count; the rank values feed the same IEEE
         interpolation `lo + frac*(hi-lo)` that F.percentile and DuckDB's
         quantile_cont evaluate.
    `value` must be integral (exact cents). Returns one row per group:
    (group, n, q_<percent>) with the interpolated value in VALUE units.
    Bit-equal to F.percentile (tests/test_operators.py)."""
    one = F.lit(1)
    vals = df.select(F.col(group_col).alias("_g"), value.alias("_v"))
    _require_integral(vals, "_v", "grouped_quantiles_bucket_refine(value)")
    bucket = F.shiftright(F.col("_v").cast("long"), bucket_bits)
    ps = vals.groupBy("_g", bucket.alias("_b")).agg(F.count(one).alias("_s"))
    off = ps.withColumn("_off", _sum_before("_s", Window.partitionBy("_g").orderBy("_b")))
    tot = ps.groupBy("_g").agg(F.sum("_s").alias("_n"))
    q_structs = F.array(*[F.struct(F.lit(float(q)).alias("_q")) for q in qs])
    pos = F.col("_q") * (F.col("_n") - 1).cast("double")
    ranks = (
        tot.select("_g", "_n", F.explode(q_structs).alias("_t"))
        .select("_g", "_n", F.col("_t._q").alias("_q"))
        .select(
            "_g",
            "_q",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lo").alias("_side"),
                        (F.floor(pos).cast("long") + 1).alias("_r"),
                    ),
                    F.struct(
                        F.lit("hi").alias("_side"),
                        F.least(F.floor(pos).cast("long") + 2, F.col("_n")).alias("_r"),
                    ),
                )
            ).alias("_rs"),
        )
        .select("_g", "_q", F.col("_rs._side").alias("_side"), F.col("_rs._r").alias("_r"))
    )
    cross = (
        ranks.join(off, "_g")
        .filter((F.col("_off") < F.col("_r")) & (F.col("_off") + F.col("_s") >= F.col("_r")))
        .select("_g", "_q", "_side", "_r", "_b", "_off")
    )
    needed = cross.select(F.col("_g").alias("_mg"), F.col("_b").alias("_cb"), "_off").distinct()
    cand = vals.join(
        F.broadcast(needed), (bucket == F.col("_cb")) & (F.col("_g") == F.col("_mg"))
    )
    cum_w = (
        Window.partitionBy("_g", "_cb")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    crossed = cand.withColumn("_cum", F.sum(one).over(cum_w) + F.col("_off"))
    picks = (
        crossed.join(
            F.broadcast(
                cross.select(
                    F.col("_g").alias("_tg"), "_q", "_side", "_r", F.col("_b").alias("_tb")
                )
            ),
            (F.col("_g") == F.col("_tg")) & (F.col("_cb") == F.col("_tb")),
        )
        .filter(F.col("_cum") >= F.col("_r"))
        .groupBy("_g", "_q", "_side")
        .agg(F.min("_v").alias("_pv"))
    )
    aggs = []
    for q in qs:
        qd = float(q)
        lo = F.min(
            F.when((F.col("_q") == qd) & (F.col("_side") == "lo"), F.col("_pv"))
        ).cast("double")
        hi = F.min(
            F.when((F.col("_q") == qd) & (F.col("_side") == "hi"), F.col("_pv"))
        ).cast("double")
        aggs.append((qd, lo, hi))
    wide = picks.groupBy("_g").agg(
        *[lo.alias(f"_lo_{i}") for i, (_, lo, _) in enumerate(aggs)],
        *[hi.alias(f"_hi_{i}") for i, (_, _, hi) in enumerate(aggs)],
    )
    out = wide.join(F.broadcast(tot), "_g")
    cols = [F.col("_g").alias(group_col), F.col("_n").alias("n")]
    for i, q in enumerate(qs):
        posd = F.lit(float(q)) * (F.col("_n") - 1).cast("double")
        frac = posd - F.floor(posd)
        cols.append(
            (F.col(f"_lo_{i}") + frac * (F.col(f"_hi_{i}") - F.col(f"_lo_{i}"))).alias(
                f"q_{str(q).replace('.', '_')}"
            )
        )
    return out.select(*cols)


def grouped_weighted_median(
    df: DataFrame,
    group_col: str,
    value: Column,
    weight: Column,
    bucket_bits: int = 10,
) -> DataFrame:
    """Exact weighted median per group by HISTOGRAM-REFINE selection — the
    100 TB form of "smallest value whose cumulative weight reaches half
    the group total".

    The direct form (cumulative window per group, ordered by value) sorts
    each group inside ONE task; with few groups that is a handful of
    straggler tasks sorting the whole corpus. Here nothing corpus-sized is
    ever sorted OR shuffled:
      1. bucket values coarsely (v >> bucket_bits) and aggregate weight
         per (group, bucket) — a tiny, map-side-combinable histogram;
      2. prefix-sum the histogram per group (a window over the
         n_groups×n_buckets frame) to locate the ONE bucket per group
         containing the half-weight crossing;
      3. re-scan only that bucket's rows with a local cumulative window.
    `df` is scanned twice (phases 1 and 3) — fine for source-backed
    frames; checkpoint expensive upstream pipelines first.
    Phase 1 buckets values coarsely (arithmetic shift, so buckets are
    value-ordered even for negatives): the per-(group, bucket) weight
    histogram is tiny and map-side combinable — no sample pass, no range
    shuffle, no sort. Only the crossing bucket's rows (corpus/n_buckets
    of the data) are re-scanned; a value distribution concentrated inside
    one bucket degrades toward the per-group sort, so pick bucket_bits
    well under the value spread. Weights must be exact longs, so the
    result equals the windowed form bit-for-bit (asserted in
    tests/test_operators.py). Returns one row per group:
    (group, wm_value = crossing value, total_weight)."""
    vals = df.select(F.col(group_col).alias("_g"), value.alias("_v"), weight.alias("_w"))
    _require_integral(vals, "_v", "grouped_weighted_median(value)")
    _require_integral(vals, "_w", "grouped_weighted_median(weight)")
    bucket = F.shiftright(F.col("_v").cast("long"), bucket_bits)
    ps = vals.groupBy("_g", bucket.alias("_b")).agg(F.sum("_w").alias("_s"))
    off = ps.withColumn("_off", _sum_before("_s", Window.partitionBy("_g").orderBy("_b")))
    tw = ps.groupBy("_g").agg(F.sum("_s").alias("_tw"))
    meta = (
        off.join(F.broadcast(tw), "_g")
        .filter((F.col("_off") + F.col("_s")) * 2 >= F.col("_tw"))
        .groupBy("_g")
        .agg(
            F.min_by(F.struct(F.col("_b"), F.col("_off")), F.col("_b")).alias("_m"),
            F.any_value("_tw").alias("_tw"),
        )
        .select(
            F.col("_g").alias("_mg"),
            F.col("_m._b").alias("_cb"),
            F.col("_m._off").alias("_coff"),
            "_tw",
        )
    )
    cand = vals.join(
        F.broadcast(meta),
        (bucket == F.col("_cb")) & (F.col("_g") == F.col("_mg")),
    )
    cum_w = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    crossed = cand.withColumn("_cum", F.sum("_w").over(cum_w) + F.col("_coff"))
    return (
        crossed.groupBy("_g")
        .agg(
            F.min(F.when(F.col("_cum") * 2 >= F.col("_tw"), F.col("_v"))).alias(
                "wm_value"
            ),
            F.any_value("_tw").alias("total_weight"),
        )
        .withColumnRenamed("_g", group_col)
    )


# --- data-dependent broadcast gate (LSH verify family: q55/q126/q175) ----
#
# The exact-verify stage of the near-dup pipelines joins the candidate-
# bounded shingle frame back onto the candidate pairs. That side is tiny on
# a clean corpus, but its size is corpus-dependent: a boilerplate-heavy
# 100 TB web crawl can produce candidate sets far past Spark's 8 GB
# broadcast hard limit, and an unconditional F.broadcast would then fail
# the job outright. The gate measures the candidate-doc count (one 1-row
# aggregate over the already-checkpointed pair list — the checkpoint must
# materialize anyway, so the extra cost is one tiny job) and broadcasts
# only under the threshold; above it the join falls back to an explicit
# shuffle-hash hint: still a hash join, still candidate-bounded, never a
# sort-merge of shingle arrays and never all-pairs.
# Spark's broadcast limits are BYTE-based (8 GB relation hard limit,
# driver + per-executor hash-relation memory), so the gate is too: the
# caller supplies an estimated per-row payload width along with the
# measured row count. A raw row gate silently under-gated the shingle
# frames, whose array columns run kilobytes per row on long documents.
BROADCAST_GATE_MAX_BYTES = 256 << 20  # comfortably under the 8 GB hard limit
# per-row estimates for the two frame shapes this family gates:
# a broadcast hash relation costs far more than the 8-byte key payload:
# LongHashedRelation stores key + row in an open-addressing map at
# ~50-75% load, and the serialized broadcast plus the per-executor
# deserialized copy roughly double resident size again. 64 B/row is the
# measured-envelope figure (gates the default ID frame at ~4M rows /
# 256 MB estimated instead of the old 16 B figure's ~16.7M rows, which
# could admit ~1 GB of real memory).
ID_ROW_BYTES = 64
# a K-char-shingle array is ~n_chars strings of K bytes each plus per-
# element overhead; 32 KiB covers ~1k-char docs with margin. Corpora with
# much longer docs should pass a measured estimate instead.
SHINGLE_ROW_BYTES = 32 << 10


def gated_broadcast(
    df: DataFrame,
    n_rows: int,
    row_bytes: int = ID_ROW_BYTES,
) -> DataFrame:
    """Broadcast `df` only when its estimated size (measured `n_rows` x
    caller-estimated `row_bytes`) is under the byte gate; otherwise return
    it hinted shuffle-hash so joins against it stay hash joins without
    requiring driver-side materialization of an unbounded side. The gate
    is read at call time, so tests can patch BROADCAST_GATE_MAX_BYTES."""
    if n_rows * row_bytes <= BROADCAST_GATE_MAX_BYTES:
        return F.broadcast(df)
    return df.hint("shuffle_hash")
