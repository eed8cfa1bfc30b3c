"""Tranche 12: entity-resolution, data-quality-audit, and drift operators
(q167-q175).

q167 sorted-neighborhood dedup — the classic blocking alternative to LSH
(Hernandez & Stolfo's merge/purge): sort within a coarse block key, pair
only rows whose sort positions are within a fixed window, verify with
edit distance. Complements q34 (MinHash/LSH), q38 (SimHash), q124 (bag)
— a reviewer of dedup strategy sees every standard family side by side.
q168 PSI drift — population-stability-index contributions per value bin
between a baseline event population and each comparison population; the
standard "did my score/feature distribution move?" audit before a model
or sampler trained on last month's data is reused on this month's.
q169 record linkage — Fellegi-Sunter-style multi-field agreement scoring
(blocked on nation, scored on name edit distance + balance band) with
literal log-odds weights; the classic probabilistic entity-resolution
shape, distinct from q57's single-field SymSpell.
q170 grouped Pearson correlation — from six exact BIGINT sufficient sums
(n, Σx, Σy, Σxy, Σx², Σy²), so the double arithmetic happens once per
GROUP on identical integers in both engines — bit-exact cross-engine,
where a naive float corr() would be summation-order-dependent.
q171 Benford first-digit audit — fraud/fat-finger screening of amounts:
observed first-significant-digit shares vs the Benford expectation, with
per-digit chi-square contributions. Digit via string head of the integer
part (exact), never log10 (libm, not cross-engine).
q172 linear interpolation gap-fill — per-group daily spine (sequence +
explode) with last/next known observation carried via IGNORE NULLS
window frames and exact integer-cents endpoints; the time-series
companion to q76's zero-fill.
q174 key-skew profile — per-join-key distribution diagnostics (max/avg
skew factor, deterministic hottest key, suggested salt fan-out): the
measurement that decides whether q139's salted join is even needed.

All follow the registry's engine-portability conventions: exact integer
sufficient statistics wherever a sum crosses rows, round4 only at the
output surface, deterministic tie-breaks on every ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from . import load, register, round4, spread, sql_round4
from .similarity import _cosine, _sql_cosine

# --- q167: sorted-neighborhood dedup ----------------------------------------
#
# Block on the first 3 chars of the normalized text, order within the block
# by a 40-char sort key, and pair each row only with the W rows that follow
# it in that order. Cost is O(n · W) verify pairs instead of O(n²) — and
# unlike LSH it catches near-dups whose shared prefix survives even when
# shingle overlap is diluted. At 100 TB every window is PARTITIONED BY the
# block key (no global sort anywhere); W and the block width trade recall
# against pair count exactly like LSH's band count.

_SN_W = 5  # neighborhood window
_SN_PREFIX = 80  # edit-distance verify prefix
_SN_MAXLEV = 20

_Q167_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS norm
  FROM documents WHERE text IS NOT NULL
),
k AS (
  SELECT doc_id,
         substring(norm, 1, 40) AS skey,
         substring(norm, 1, 3) AS block,
         substring(norm, 1, {_SN_PREFIX}) AS pfx
  FROM d
),
r AS (
  SELECT doc_id, block, pfx,
         row_number() OVER (PARTITION BY block ORDER BY skey, doc_id) AS rn
  FROM k
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.block AS block,
       CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS lev
FROM r a JOIN r b
  ON a.block = b.block AND b.rn > a.rn AND b.rn <= a.rn + {_SN_W}
WHERE levenshtein(a.pfx, b.pfx) <= {_SN_MAXLEV}
"""


@register(
    "q167_sorted_neighborhood",
    _Q167_ORACLE,
    "sorted-neighborhood dedup: block, sort-window pairing, edit-distance verify",
)
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""))
    k = d.select(
        "doc_id",
        F.substring(norm, 1, 40).alias("skey"),
        F.substring(norm, 1, 3).alias("block"),
        F.substring(norm, 1, _SN_PREFIX).alias("pfx"),
    )
    # The W following rows in sort order come from lead() over the SAME
    # window the ordering needs anyway — no self-join, so the scan/regex
    # normalize runs once and the pair count is exactly n*W by
    # construction. (A block-equi self-join with the rn range as a
    # residual generates all in-block pairs first — quadratic in the
    # hottest block and 7x slower at sf0.1.)
    w = Window.partitionBy("block").orderBy("skey", "doc_id")
    led = k.select(
        "doc_id",
        "block",
        "pfx",
        *[
            F.struct(
                F.lead("doc_id", i).over(w).alias("doc_b"),
                F.lead("pfx", i).over(w).alias("pfx_b"),
            ).alias(f"_nb{i}")
            for i in range(1, _SN_W + 1)
        ],
    )
    nbrs = F.array(*[F.col(f"_nb{i}") for i in range(1, _SN_W + 1)])
    pairs = (
        led.select("doc_id", "block", "pfx", F.explode(nbrs).alias("nb"))
        .filter(F.col("nb.doc_b").isNotNull())
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("nb.doc_b").alias("doc_b"),
            "block",
            F.levenshtein("pfx", F.col("nb.pfx_b")).cast("long").alias("lev"),
        )
    )
    return pairs.filter(F.col("lev") <= _SN_MAXLEV)


# --- q170: grouped Pearson correlation from exact integer sums ---------------
#
# x = l_quantity (small integers), y = round(l_extendedprice) in WHOLE euros
# (integer cents would push n·Σy² past BIGINT at ~600 rows/group; whole
# euros keep every intermediate < 2^62 even at 100× group sizes — the
# further escalation path is DECIMAL(38,0) sums, noted here for a cluster
# where groups reach 10⁹ rows). All six sufficient sums are BIGINT and
# map-side-combinable; the double arithmetic touches only per-group scalars,
# so both engines compute corr from identical integers → identical doubles.

_Q170_ORACLE = f"""
WITH s AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
  FROM (
    SELECT l_suppkey,
           CAST(round(l_quantity) AS BIGINT) AS x,
           CAST(round(l_extendedprice) AS BIGINT) AS y
    FROM lineitem
  ) GROUP BY l_suppkey
)
SELECT l_suppkey, n,
       {sql_round4(
           "CAST(n * sxy - sx * sy AS DOUBLE)"
           " / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
           "          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)"
       )} AS corr_qty_price
FROM s
"""


@register(
    "q170_grouped_corr",
    _Q170_ORACLE,
    "per-supplier Pearson corr(qty, price) via exact BIGINT sufficient sums",
)
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("long")
    y = F.round(F.col("l_extendedprice")).cast("long")
    s = li.select("l_suppkey", x.alias("x"), y.alias("y")).groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = F.nullif(
        F.sqrt((n * F.col("sxx") - sx * sx).cast("double"))
        * F.sqrt((n * F.col("syy") - sy * sy).cast("double")),
        F.lit(0.0),
    )
    return s.select("l_suppkey", "n", round4(num / den).alias("corr_qty_price"))


# --- q171: Benford first-digit audit -----------------------------------------
#
# First significant digit via the string head of the integer part — exact in
# both engines, where floor(x / 10^floor(log10 x)) would ride libm. Expected
# shares log10(1 + 1/d) are compile-time literals for the same reason. One
# scan → 9-row hash agg; the total re-enters via a 9-row window (map-side
# combinable everywhere, nothing unbounded).

_BENFORD = {
    1: 0.30103, 2: 0.17609, 3: 0.12494, 4: 0.09691, 5: 0.07918,
    6: 0.06695, 7: 0.05799, 8: 0.05115, 9: 0.04576,
}

# CAST wrapper: a bare DuckDB decimal literal would make the CASE DECIMAL,
# and decimal arithmetic would diverge from Spark's all-double path
_BENFORD_SQL_CASE = "CAST(CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD.items()
) + " END AS DOUBLE)"

_Q171_ORACLE = f"""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
t AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total FROM c)
SELECT digit, n,
       {sql_round4("CAST(n AS DOUBLE) / CAST(total AS DOUBLE)")} AS obs_share,
       {_BENFORD_SQL_CASE} AS exp_share,
       {sql_round4(
           "(CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * (" + _BENFORD_SQL_CASE + "))"
           " * (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * (" + _BENFORD_SQL_CASE + "))"
           " / (CAST(total AS DOUBLE) * (" + _BENFORD_SQL_CASE + "))"
       )} AS chi2_contrib
FROM t
"""


@register(
    "q171_benford_audit",
    _Q171_ORACLE,
    "Benford's-law first-digit audit of order totals (per-digit chi-square)",
)
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    # 9-row frame: the unpartitioned window never sees more than 9 rows by
    # construction (digits 1-9), so this is not a scale hazard
    t = c.withColumn(
        "total", F.sum("n").over(Window.partitionBy()).cast("long")
    )
    exp = F.create_map(
        *[F.lit(v) for kv in _BENFORD.items() for v in kv]
    )[F.col("digit")]
    nd, td = F.col("n").cast("double"), F.col("total").cast("double")
    return t.select(
        "digit",
        "n",
        round4(nd / td).alias("obs_share"),
        exp.alias("exp_share"),
        round4((nd - td * exp) * (nd - td * exp) / (td * exp)).alias("chi2_contrib"),
    )


# --- q174: key-skew profile ---------------------------------------------------
#
# The pre-flight diagnostic for every shuffle in this registry: per candidate
# join/agg key, how hot is the hottest value relative to uniform, and what
# salt fan-out would flatten it (what q139 consumes). Shape: one hash agg to
# per-key counts (map-side combinable), then a scalar agg over the counts and
# a TakeOrderedAndProject for the deterministic hottest key — no unpartitioned
# window over the key-count frame, which can be billions of rows at 100 TB.

_Q174_KEYS = ("l_suppkey", "l_partkey", "l_orderkey")


def _q174_one_sql(key: str) -> str:
    return f"""
SELECT '{key}' AS key_name,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(c) AS BIGINT) AS max_cnt,
       {sql_round4("CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS avg_cnt,
       {sql_round4(
           "CAST(max(c) AS DOUBLE)"
           " / (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE))"
       )} AS skew,
       CAST(ceil(CAST(max(c) AS DOUBLE)
                 / (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)))
            AS BIGINT) AS suggested_salt,
       (SELECT k FROM (SELECT {key} AS k, count(*) AS c2 FROM lineitem GROUP BY 1)
        ORDER BY c2 DESC, k LIMIT 1) AS top_key
FROM (SELECT {key} AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1)
"""


_Q174_ORACLE = "\nUNION ALL\n".join(_q174_one_sql(k) for k in _Q174_KEYS)


@register(
    "q174_key_skew_profile",
    _Q174_ORACLE,
    "per-join-key skew diagnostics: max/avg factor, hottest key, salt fan-out",
)
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    outs = []
    for key in _Q174_KEYS:
        counts = li.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        )
        avg = F.sum("c").cast("double") / F.count(F.lit(1)).cast("double")
        stats = counts.agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_cnt"),
            round4(avg).alias("avg_cnt"),
            round4(F.max("c").cast("double") / avg).alias("skew"),
            F.ceil(F.max("c").cast("double") / avg).cast("long").alias(
                "suggested_salt"
            ),
        )
        # deterministic hottest key: TakeOrderedAndProject over the counts,
        # ties broken by key — never a global window
        top = counts.orderBy(F.col("c").desc(), "k").limit(1).select(
            F.col("k").alias("top_key")
        )
        outs.append(
            stats.crossJoin(F.broadcast(top)).select(
                F.lit(key).alias("key_name"),
                "n_rows",
                "n_keys",
                "max_cnt",
                "avg_cnt",
                "skew",
                "suggested_salt",
                "top_key",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# --- q168: PSI drift audit ----------------------------------------------------
#
# Population Stability Index contributions of the `value` distribution for
# each event_type against the 'view' baseline, over fixed width-50 bins.
# The pre-deployment check for any sampler/classifier trained on one slice
# and applied to another. Per-bin contributions are emitted as ROWS (not
# summed): a float total would be partition-summation-order-dependent,
# while each contribution is computed from exact integer counts in one
# fixed-structure expression — identical in both engines up to libm ln
# (round4 absorbs the ULP). Scale shape: two 50-row hash aggs and a
# broadcast-size join on bin — nothing grows with the event count.

_PSI_BASE = "view"
_PSI_BIN = 50

_Q168_ORACLE = f"""
WITH b AS (
  SELECT event_type, CAST(floor(value / {_PSI_BIN}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, bin, n,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
  FROM b
),
base AS (SELECT bin, n AS nb, total AS tb FROM t WHERE event_type = '{_PSI_BASE}')
SELECT t.event_type, t.bin, t.n,
       {sql_round4("CAST(t.n AS DOUBLE) / CAST(t.total AS DOUBLE)")} AS p_cur,
       {sql_round4("CAST(base.nb AS DOUBLE) / CAST(base.tb AS DOUBLE)")} AS p_base,
       {sql_round4(
           "(CAST(t.n AS DOUBLE) / CAST(t.total AS DOUBLE)"
           " - CAST(base.nb AS DOUBLE) / CAST(base.tb AS DOUBLE))"
           " * ln((CAST(t.n AS DOUBLE) / CAST(t.total AS DOUBLE))"
           "      / (CAST(base.nb AS DOUBLE) / CAST(base.tb AS DOUBLE)))"
       )} AS psi_contrib
FROM t JOIN base ON t.bin = base.bin
"""


@register(
    "q168_psi_drift",
    _Q168_ORACLE,
    "per-bin PSI contributions of event value distributions vs the view baseline",
)
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type",
        F.floor(F.col("value") / _PSI_BIN).cast("long").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # per-type totals re-enter via a keyed window over the ~50-row agg —
    # bounded by (types x bins), never by the event count
    t = b.withColumn(
        "total", F.sum("n").over(Window.partitionBy("event_type")).cast("long")
    )
    base = F.broadcast(
        t.filter(F.col("event_type") == _PSI_BASE).select(
            "bin", F.col("n").alias("nb"), F.col("total").alias("tb")
        )
    )
    p_cur = F.col("n").cast("double") / F.col("total").cast("double")
    p_base = F.col("nb").cast("double") / F.col("tb").cast("double")
    return t.join(base, "bin").select(
        "event_type",
        "bin",
        "n",
        round4(p_cur).alias("p_cur"),
        round4(p_base).alias("p_base"),
        round4((p_cur - p_base) * F.log(p_cur / p_base)).alias("psi_contrib"),
    )


# --- q169: Fellegi-Sunter record linkage --------------------------------------
#
# Probabilistic entity resolution between two sources (customer, supplier):
# block on nation (the classic cheap high-recall blocker), then score each
# in-block pair with literal log-odds field-agreement weights — numeric name
# suffix within edit distance 2, account-balance band equality, plus the
# blocked nation agreement. Distinct from q57 (single-field SymSpell
# candidate generation) and q167 (sort-order blocking): this is the SCORING
# half of a linkage pipeline. Score is a fixed-order sum of three literal
# doubles — exact cross-engine; the 2.0 cutoff sits far from every reachable
# score value (…, -0.2, 2.3, 2.6, 5.1), so no knife-edge. At 100 TB the
# block join is an equi-join on nationkey; skewed nations would take q139's
# salt, measured by q174.

_Q169_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_nationkey AS nk,
         regexp_extract(c_name, '([0-9]{6})$', 1) AS sfx,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
  FROM customer
),
s AS (
  SELECT s_suppkey, s_nationkey AS nk,
         regexp_extract(s_name, '([0-9]{6})$', 1) AS sfx,
         CAST(floor(s_acctbal / 1000) AS BIGINT) AS band
  FROM supplier
),
p AS (
  SELECT c.c_custkey, s.s_suppkey, c.nk AS nationkey,
         CAST(levenshtein(c.sfx, s.sfx) AS BIGINT) AS name_lev,
         CAST(CASE WHEN levenshtein(c.sfx, s.sfx) <= 2 THEN 2.3 ELSE -0.5 END AS DOUBLE)
         + CAST(CASE WHEN c.band = s.band THEN 1.7 ELSE -0.8 END AS DOUBLE)
         + CAST(1.1 AS DOUBLE) AS score
  FROM c JOIN s ON c.nk = s.nk
)
SELECT c_custkey, s_suppkey, nationkey, name_lev,
       floor(score * 10000 + 0.5) / 10000.0 AS score
FROM p WHERE score >= 2.0
"""


@register(
    "q169_record_linkage",
    _Q169_ORACLE,
    "blocked multi-field Fellegi-Sunter linkage scoring (customer vs supplier)",
)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nk"),
        F.regexp_extract("c_name", "([0-9]{6})$", 1).alias("csfx"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("cband"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").alias("nk"),
        F.regexp_extract("s_name", "([0-9]{6})$", 1).alias("ssfx"),
        F.floor(F.col("s_acctbal") / 1000).cast("long").alias("sband"),
    )
    lev = F.levenshtein(F.col("csfx"), F.col("ssfx"))
    score = (
        F.when(lev <= 2, F.lit(2.3)).otherwise(F.lit(-0.5))
        + F.when(F.col("cband") == F.col("sband"), F.lit(1.7)).otherwise(F.lit(-0.8))
        + F.lit(1.1)
    )
    return (
        cust.join(F.broadcast(supp), "nk")
        .withColumn("score", score)
        .filter(F.col("score") >= 2.0)
        .select(
            "c_custkey",
            "s_suppkey",
            F.col("nk").alias("nationkey"),
            lev.cast("long").alias("name_lev"),
            round4(F.col("score")).alias("score"),
        )
    )


# --- q172: linear-interpolation gap fill --------------------------------------
#
# Per order-priority daily revenue with every missing calendar day filled by
# linear interpolation between the nearest observed days. The spine comes
# from per-group min/max + sequence/explode (rows = groups x days, never a
# cross join); prev/next observations arrive via IGNORE NULLS frames over
# the GROUP-keyed window. Endpoints are exact integer cents and day offsets
# are exact integer datediffs, so the one double blend expression is
# structurally mirrored and bit-identical cross-engine. q76 zero-fills
# hourly counts; this is the value-interpolation form a forecasting feature
# pipeline needs.

_Q172_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
),
spine AS (
  SELECT prio, CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS d
  FROM (SELECT prio, min(d) AS mn, max(d) AS mx FROM daily GROUP BY prio)
),
j AS (
  SELECT s.prio, s.d, daily.cents,
         last_value(daily.cents IGNORE NULLS)
           OVER (PARTITION BY s.prio ORDER BY s.d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN daily.cents IS NOT NULL THEN s.d END IGNORE NULLS)
           OVER (PARTITION BY s.prio ORDER BY s.d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         first_value(daily.cents IGNORE NULLS)
           OVER (PARTITION BY s.prio ORDER BY s.d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN daily.cents IS NOT NULL THEN s.d END IGNORE NULLS)
           OVER (PARTITION BY s.prio ORDER BY s.d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM spine s LEFT JOIN daily ON daily.prio = s.prio AND daily.d = s.d
)
SELECT prio, d,
       cents IS NOT NULL AS observed,
       floor((CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
              ELSE CAST(pv AS DOUBLE)
                   + CAST(nv - pv AS DOUBLE)
                     * (CAST(d - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
              END) / 100.0 * 10000 + 0.5) / 10000.0 AS revenue
FROM j
"""


@register(
    "q172_linear_interp",
    _Q172_ORACLE,
    "per-priority daily revenue spine with linear interpolation over gaps",
)
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    spine = (
        daily.groupBy("prio")
        .agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
        .select(
            "prio",
            F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("d"),
        )
    )
    j = spine.join(daily, ["prio", "d"], "left")
    wp = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("cents").isNotNull(), F.col("d"))
    j = j.select(
        "prio",
        "d",
        "cents",
        F.last("cents", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_d, ignorenulls=True).over(wp).alias("pd"),
        F.first("cents", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_d, ignorenulls=True).over(wn).alias("nd"),
    )
    interp = F.col("pv").cast("double") + (F.col("nv") - F.col("pv")).cast(
        "double"
    ) * (
        F.datediff(F.col("d"), F.col("pd")).cast("double")
        / F.datediff(F.col("nd"), F.col("pd")).cast("double")
    )
    val = F.when(F.col("cents").isNotNull(), F.col("cents").cast("double")).otherwise(
        interp
    )
    return j.select(
        "prio",
        "d",
        F.col("cents").isNotNull().alias("observed"),
        round4(val / 100.0).alias("revenue"),
    )


# --- q173: Matryoshka truncation recall ---------------------------------------
#
# How much ANN quality survives truncating 64-dim embeddings to their first
# 16 dims (the Matryoshka/MRL deployment question: can the cheap prefix
# serve first-stage retrieval?). Per query: exact top-5 by full-dim cosine
# vs top-5 by prefix cosine, recall = overlap/5. Both rankings price every
# (query, doc) pair once off the same broadcast crossJoin — the exact
# brute-force harness q40/q80 established; at 100 TB the same measurement
# runs over a sampled query set with the prefix ranking served by q42's
# LSH buckets. round4'd cosines + vec_id tie-break keep both engines'
# rankings identical (q40 precedent: sequential double fold ==
# list_dot_product).

_MRL_NQ = 20  # query vectors: vec_id < 20
_MRL_K = 5
_MRL_DIMS = 16

_Q173_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < {_MRL_NQ}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings),
p AS (
  SELECT qid, vec_id,
         {sql_round4(_sql_cosine('qe', 'ee'))} AS cf,
         {sql_round4(_sql_cosine(f'qe[1:{_MRL_DIMS}]', f'ee[1:{_MRL_DIMS}]'))} AS ct
  FROM q JOIN e ON vec_id != qid
),
r AS (
  SELECT qid,
         row_number() OVER (PARTITION BY qid ORDER BY cf DESC, vec_id) AS rf,
         row_number() OVER (PARTITION BY qid ORDER BY ct DESC, vec_id) AS rt
  FROM p
)
SELECT qid,
       CAST(count(CASE WHEN rf <= {_MRL_K} AND rt <= {_MRL_K} THEN 1 END) AS BIGINT) AS hits,
       {sql_round4(
           f"CAST(count(CASE WHEN rf <= {_MRL_K} AND rt <= {_MRL_K} THEN 1 END) AS DOUBLE)"
           f" / {_MRL_K}.0"
       )} AS recall
FROM r GROUP BY qid
"""


@register(
    "q173_matryoshka_recall",
    _Q173_ORACLE,
    "recall@5 of 16-dim prefix cosine ranking vs full 64-dim (MRL truncation)",
)
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    pairs = F.broadcast(q).crossJoin(e).filter(F.col("vec_id") != F.col("qid"))
    qe, ee = F.col("qe"), F.col("embedding")
    qt, et = F.slice(qe, 1, _MRL_DIMS), F.slice(ee, 1, _MRL_DIMS)
    scored = pairs.select(
        "qid", "vec_id", round4(_cosine(qe, ee)).alias("cf"), round4(_cosine(qt, et)).alias("ct")
    )
    wf = Window.partitionBy("qid").orderBy(F.col("cf").desc(), "vec_id")
    wt = Window.partitionBy("qid").orderBy(F.col("ct").desc(), "vec_id")
    r = scored.select(
        "qid",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    hit = F.count(
        F.when((F.col("rf") <= _MRL_K) & (F.col("rt") <= _MRL_K), 1)
    ).cast("long")
    return r.groupBy("qid").agg(
        hit.alias("hits"),
        round4(hit.cast("double") / float(_MRL_K)).alias("recall"),
    )


# --- q175: shingle containment (superset/subset near-dup) ---------------------
#
# Jaccard misses the doc-contains-doc case (a quote-expanded article vs its
# source scores low because the union is big); CONTAINMENT |A∩B|/|A| is the
# asymmetric measure that catches it. Runs over the same LSH candidate
# pairs as q55 — candidate-bounded, never all-pairs — and classifies each
# pair from the two containment directions. All set sizes are exact
# integers; the classification compares unrounded exact-ratio doubles, so
# both engines take identical CASE branches.

from .text import (  # noqa: E402
    _SHINGLE_SET_CTES,
    attach_shingle_sets,
    minhash_candidates,
)

_CONT_HI = 0.9

_Q175_ORACLE = _SHINGLE_SET_CTES + f"""
SELECT doc_a, doc_b, jaccard, cont_a, cont_b,
       CASE WHEN raw_ca >= {_CONT_HI} AND raw_cb >= {_CONT_HI} THEN 'neardup'
            WHEN raw_ca >= {_CONT_HI} THEN 'a_in_b'
            WHEN raw_cb >= {_CONT_HI} THEN 'b_in_a'
            ELSE 'partial' END AS rel
FROM (
  SELECT c.doc_a, c.doc_b,
         {sql_round4(
             "CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)"
             " / CAST(length(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)"
         )} AS jaccard,
         {sql_round4(
             "CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)"
             " / CAST(length(a.sh) AS DOUBLE)"
         )} AS cont_a,
         {sql_round4(
             "CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)"
             " / CAST(length(b.sh) AS DOUBLE)"
         )} AS cont_b,
         CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(length(a.sh) AS DOUBLE) AS raw_ca,
         CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(length(b.sh) AS DOUBLE) AS raw_cb
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b)
"""


@register(
    "q175_shingle_containment",
    _Q175_ORACLE,
    "asymmetric containment over LSH candidates: subset/superset classification",
)
def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = minhash_candidates(spark, sf_dir).localCheckpoint(eager=False)
    # same candidate-bounded verify shape as q55, via the shared attach:
    # shingle frame computed once, broadcast once, second leg ReusedExchange
    # (see text.attach_shingle_sets)
    j = attach_shingle_sets(spark, sf_dir, cand)
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_distinct(F.concat("sa", "sb"))).cast("double")
    ca = inter / F.size("sa").cast("double")
    cb = inter / F.size("sb").cast("double")
    rel = (
        F.when((ca >= _CONT_HI) & (cb >= _CONT_HI), "neardup")
        .when(ca >= _CONT_HI, "a_in_b")
        .when(cb >= _CONT_HI, "b_in_a")
        .otherwise("partial")
    )
    return j.select(
        "doc_a",
        "doc_b",
        round4(inter / union).alias("jaccard"),
        round4(ca).alias("cont_a"),
        round4(cb).alias("cont_b"),
        rel.alias("rel"),
    )
