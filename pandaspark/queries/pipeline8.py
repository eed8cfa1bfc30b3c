"""LLM-data-pipeline operators, tranche 8: distributed linear algebra,
target-domain data selection, and table statistics.

q134 power iteration: the dominant principal direction of the embedding
corpus computed WITHOUT materializing the Gram matrix — each iteration is
one matrix-free pass (dot products against the current direction, then a
64-key positional aggregate), the pattern every distributed PCA/spectral
method reduces to. The driver collects the 64 sums, renormalizes them and
puts the next direction into the plan as a literal array. Integer
fixed-point throughout so the result is bit-exact against the DuckDB
oracle (same discipline as q112's PageRank).

q135 DSIR-shaped data selection (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling"): score out-of-domain documents
by hashed-n-gram affinity to a target domain. The published method sums
log-probability ratios; logs diverge across libm implementations, so the
engine keeps the exact-integer linearization (difference of smoothed
per-feature RATES in nano-units) — same feature hashing, same smoothing,
same ranking intent, reproducible to the bit.

q136 ANALYZE-style column statistics: the profile a cost-based optimizer
ingests (row counts, null counts, exact NDV, min/max) computed in ONE scan
via Spark's multi-distinct Expand plan.

Reference scope: beyond-reference (SURVEY §2.11 pipeline extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load, register, spread, sql_sha_int, sha_int
from .text import _norm_text

# --- q134: matrix-free power iteration (top principal direction) -------------
#
# Fixed-point arithmetic plan (all BIGINT, engine-portable):
#   vq[j]  = floor(v[j] * 1e6 + 0.5)            -- micro-unit quantization
#   d_i    = (vq_i · w) div 1e8                 -- |dot| <= 64*1e6*2e6 ~ 1.3e14
#   u_j    = sum_i vq_i[j] * d_i                -- |u| <= n * 1e6 * 1.3e6
#   w'_j   = u_j div max(m div 1e6, 1),  m = max_j |u_j|   -- renormalize ~1e6
# Integer division truncates toward zero in BOTH engines (Spark `div`,
# DuckDB `//` — verified), so every iterate is bit-identical. The u-bound
# keeps BIGINT exact to n ~ 7e6 vectors per aggregation; beyond that the
# d-divisor (1e8) scales up — a knob, not a redesign.
#
# Scale shape (100 TB): the direction w rides in the plan as a 64-element
# literal array, bounded by the dimension, not by the corpus; each
# iteration is one scan (dot product is a codegen'd HOF fold) plus a 64-key
# positional sum with map-side partials, whose <= 64 rows the driver
# collects and renormalizes. No Gram matrix (64x64 = 4096 agg columns), and
# no vector of the corpus ever reaches the driver.

_PI_DIM = 64
_PI_MICRO = 1_000_000
_PI_DDIV = 100_000_000
_PI_ITERS = 3


def _pi_sql_iter(t: int, prev_w: str) -> str:
    return f"""
d{t} AS (SELECT vec_id, sum(x * w) // {_PI_DDIV} AS ds
         FROM ex JOIN {prev_w} USING (pos) GROUP BY vec_id),
u{t} AS (SELECT pos, CAST(sum(x * ds) AS BIGINT) AS u
         FROM ex JOIN d{t} USING (vec_id) GROUP BY pos),
m{t} AS (SELECT greatest(max(abs(u)), 1) AS m FROM u{t}),
w{t} AS (SELECT pos, CAST(u // greatest(m // {_PI_MICRO}, 1) AS BIGINT) AS w
         FROM u{t}, m{t})"""


_Q134_ORACLE = f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id, CAST(t.i AS BIGINT) AS pos,
         CAST(floor(CAST(embedding[CAST(t.i + 1 AS INTEGER)] AS DOUBLE)
                    * {_PI_MICRO} + 0.5) AS BIGINT) AS x
  FROM embeddings, LATERAL unnest(range({_PI_DIM})) t(i)
),
w0 AS (SELECT CAST(i AS BIGINT) AS pos, CAST({_PI_MICRO} AS BIGINT) AS w
       FROM range({_PI_DIM}) t(i)),
{",".join(_pi_sql_iter(t, f"w{t - 1}") for t in range(1, _PI_ITERS + 1))}
SELECT pos AS dim, w AS w_micro FROM w{_PI_ITERS}
"""


@register(
    "q134_power_iteration",
    _Q134_ORACLE,
    "matrix-free power iteration: top principal direction, integer fixed-point",
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * _PI_MICRO + F.lit(0.5)).cast("long")
        ).alias("vq"),
    )
    # the quantized matrix feeds every iteration's scan — pin it
    e = spread(e).localCheckpoint(eager=False)

    w = [_PI_MICRO] * _PI_DIM
    for _ in range(_PI_ITERS):
        warr = ", ".join("NULL" if x is None else str(x) for x in w)
        rows = sorted(
            e.select(
                F.expr(
                    f"aggregate(zip_with(vq, CAST(array({warr}) AS ARRAY<BIGINT>),"
                    f" (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                    f" div {_PI_DDIV}"
                ).alias("ds"),
                F.posexplode("vq").alias("pos", "x"),
            )
            .groupBy("pos")
            .agg(F.sum(F.col("x") * F.col("ds")).alias("u"))
            .collect()
        )
        # w = u div max(m div 1e6, 1), m = max(max|u|, 1): `div` truncates
        # toward zero, Python's // floors, so the quotient takes u's sign
        m = max([1] + [abs(u) for _, u in rows if u is not None])
        den = max(m // _PI_MICRO, 1)
        w = [None if u is None else (abs(u) // den) * (1 if u >= 0 else -1) for _, u in rows]
    # VALUES needs a row, so a NULL row rides along and the filter drops it
    # (an empty table yields no direction); both fold into one local relation
    values = "".join(
        f", ({p}, {'NULL' if x is None else x})" for (p, _), x in zip(rows, w)
    )
    return spark.sql(
        "SELECT CAST(dim AS BIGINT) AS dim, CAST(w_micro AS BIGINT) AS w_micro"
        f" FROM VALUES (NULL, NULL){values} AS t(dim, w_micro) WHERE dim IS NOT NULL"
    )


# --- q135: DSIR-shaped target-domain data selection ---------------------------
#
# Target domain: the 'en' slice of the corpus. Candidates: every non-'en'
# document. Features: 4096 hashed word-bigram buckets (48-bit sha, the
# engine's portable hash family). Smoothed rates in nano-units:
#   rate_X(f) = (count_X(f) + 1) * 1e9 div (total_X + 4096)
# and a document scores  sum_f  n_doc(f) * (rate_target(f) - rate_source(f))
# — the exact-integer linearization of the DSIR log-ratio (same sign per
# feature, deterministic across engines; the log form is float-divergent).
#
# Scale shape (100 TB): the feature-rate table is at most 4096 rows —
# computed with two hash aggregates and BROADCAST onto the candidate scan;
# scoring is one map-side-combinable sum per document; the final top-50 is
# a TakeOrderedAndProject, never a global sort.

_DS_BUCKETS = 4096
_DS_TOPK = 50
_DS_NANO = 1_000_000_000

_DS_BG_SQL = """
docs AS (
  SELECT doc_id, lang,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
bg AS MATERIALIZED (
  SELECT doc_id, lang,
         {h} % {b} AS f,
         CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT doc_id, lang,
           unnest([w[i + 1] || ' ' || w[i + 2] FOR i IN range(len(w) - 1)]) AS g
    FROM docs)
  GROUP BY doc_id, lang, f
)""".replace("{h}", sql_sha_int("concat('ds|', g)")).replace("{b}", str(_DS_BUCKETS))

_Q135_ORACLE = f"""
WITH {_DS_BG_SQL},
tgt AS (SELECT f, sum(n) AS c FROM bg WHERE lang = 'en' GROUP BY f),
src AS (SELECT f, sum(n) AS c FROM bg WHERE lang <> 'en' GROUP BY f),
tot AS (SELECT (SELECT coalesce(sum(n), 0) FROM bg WHERE lang = 'en') AS st,
               (SELECT coalesce(sum(n), 0) FROM bg WHERE lang <> 'en') AS ss),
rates AS (
  SELECT coalesce(tgt.f, src.f) AS f,
         (coalesce(tgt.c, 0) + 1) * {_DS_NANO} // (st + {_DS_BUCKETS})
         - (coalesce(src.c, 0) + 1) * {_DS_NANO} // (ss + {_DS_BUCKETS}) AS diff
  FROM tgt FULL JOIN src ON tgt.f = src.f, tot
)
SELECT doc_id, lang,
       CAST(sum(bg.n) AS BIGINT) AS n_bigrams,
       CAST(sum(bg.n * r.diff) AS BIGINT) AS en_affinity
FROM bg JOIN rates r ON r.f = bg.f
WHERE bg.lang <> 'en'
GROUP BY doc_id, lang
ORDER BY en_affinity DESC, doc_id
LIMIT {_DS_TOPK}
"""


def _bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, f, n): hashed-bigram bucket counts per document."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.col("w")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat(F.element_at(w, i + 1), F.lit(" "), F.element_at(w, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        spread(d.select("doc_id", "lang", F.split(_norm_text(), " ").alias("w")))
        .select("doc_id", "lang", F.explode(bigrams).alias("g"))
        .select(
            "doc_id",
            "lang",
            (sha_int(F.concat(F.lit("ds|"), F.col("g"))) % _DS_BUCKETS).alias("f"),
        )
        .groupBy("doc_id", "lang", "f")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q135_dsir_selection",
    _Q135_ORACLE,
    "DSIR-shaped selection: hashed-bigram affinity of candidates to the en domain",
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    bg = _bigram_counts(spark, sf_dir).localCheckpoint(eager=False)
    tgt = bg.filter(F.col("lang") == "en").groupBy("f").agg(F.sum("n").alias("ct"))
    src = bg.filter(F.col("lang") != "en").groupBy("f").agg(F.sum("n").alias("cs"))
    tot = bg.agg(
        F.coalesce(F.sum(F.when(F.col("lang") == "en", F.col("n"))), F.lit(0)).alias("st"),
        F.coalesce(F.sum(F.when(F.col("lang") != "en", F.col("n"))), F.lit(0)).alias("ss"),
    )
    rates = (
        tgt.join(src, "f", "full")
        .crossJoin(F.broadcast(tot))
        .select(
            "f",
            F.expr(
                f"(coalesce(ct, 0) + 1) * {_DS_NANO} div (st + {_DS_BUCKETS})"
                f" - (coalesce(cs, 0) + 1) * {_DS_NANO} div (ss + {_DS_BUCKETS})"
            ).alias("diff"),
        )
    )
    return (
        bg.filter(F.col("lang") != "en")
        .join(F.broadcast(rates), "f")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("diff")).alias("en_affinity"),
        )
        .orderBy(F.col("en_affinity").desc(), "doc_id")
        .limit(_DS_TOPK)
    )


# --- q136: ANALYZE-style column statistics profile ---------------------------
#
# The statistics a cost-based optimizer (and every data catalog) wants per
# column: non-null count, exact NDV, min, max — over a representative
# column mix (int key, small int, low-NDV flags, timestamp-derived date).
# ONE scan feeding four per-column value histograms (groupBy col → count;
# the scan's exchange is shared). Each histogram is map-side-combinable
# and shuffles only that column's DISTINCT values, so total shuffle volume
# is the sum of the NDVs — strictly less than the multi-distinct Expand
# plan, which fans every input row to one row per distinct aggregate (4x
# the corpus through the shuffle). Min/max/count derive from the same
# 1-row agg per branch. Values are reported as strings so one profile row
# type covers every column type (ISO casts are identical in both engines
# for int/date).

_Q136_ORACLE = """
SELECT col_name, n_nonnull, n_distinct, min_val, max_val FROM (
  SELECT 'l_orderkey' AS col_name, CAST(count(l_orderkey) AS BIGINT) AS n_nonnull,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
         CAST(min(l_orderkey) AS VARCHAR) AS min_val,
         CAST(max(l_orderkey) AS VARCHAR) AS max_val
  FROM lineitem
  UNION ALL
  SELECT 'l_linenumber', CAST(count(l_linenumber) AS BIGINT),
         CAST(count(DISTINCT l_linenumber) AS BIGINT),
         CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR)
  FROM lineitem
  UNION ALL
  SELECT 'l_returnflag', CAST(count(l_returnflag) AS BIGINT),
         CAST(count(DISTINCT l_returnflag) AS BIGINT),
         min(l_returnflag), max(l_returnflag)
  FROM lineitem
  UNION ALL
  SELECT 'l_shipdate', CAST(count(l_shipdate) AS BIGINT),
         CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT),
         CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR),
         CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR)
  FROM lineitem
)
"""


@register(
    "q136_column_profile",
    _Q136_ORACLE,
    "ANALYZE-style stats: nulls, exact NDV, min/max per column in one scan",
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE spread scan shared by four per-column branches. Each branch is a
    # per-value histogram (groupBy col → count) whose final 1-row agg
    # derives all four stats; vs the single multi-distinct agg this trades
    # one Expand shuffle of 4x the input rows for four map-side-combined
    # histogram shuffles whose sizes are the columns' NDVs — strictly less
    # data moved (sum of NDVs << 4x corpus), and measured 1.1-1.2 s vs
    # 1.4-1.9 s interleaved at sf0.1. min/max aggregate on the NATIVE type
    # and cast to string afterwards, matching the oracle exactly.
    li = spread(
        load(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.col("l_shipdate").cast("date").alias("l_shipdate"),
        )
    )
    out = None
    for c in ("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"):
        g = li.groupBy(c).agg(F.count(F.lit(1)).alias("cnt"))
        prof = g.agg(
            # coalesce: SUM over an empty histogram is NULL where the
            # oracle's count(col) is 0
            F.coalesce(
                F.sum(F.when(F.col(c).isNotNull(), F.col("cnt")).otherwise(0)),
                F.lit(0).cast("long"),
            ).alias("n_nonnull"),
            F.count(c).alias("n_distinct"),
            F.min(c).cast("string").alias("min_val"),
            F.max(c).cast("string").alias("max_val"),
        ).select(
            F.lit(c).alias("col_name"), "n_nonnull", "n_distinct", "min_val", "max_val"
        )
        out = prof if out is None else out.unionByName(prof)
    return out


# --- q137: CDC merge-sync through the multi-clause MERGE operator ------------
#
# The incremental-sync step of every CDC pipeline, driven through
# store.merge_into (the engine's Delta-style MERGE INTO): the target is the
# per-user "profile store" as of T0 (latest event per user before the
# cutoff), the source is the next batch window's latest-per-user, and the
# merge applies all four clause kinds at once:
#   MATCHED  + batch row is an 'error'  -> DELETE  (tombstone)
#   MATCHED                             -> UPDATE  (take batch, bump version)
#   NOT MATCHED                         -> INSERT  (new user, version 1)
#   NOT MATCHED BY SOURCE + stale error -> DELETE  (purge)
# Everything rides merge_into's single full-outer shuffle on user_id; the
# two latest-per-key reductions are per-user windows (bounded partitions).

_MS_T0 = "2024-01-20 00:00:00"

_Q137_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS val_cents,
         CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events
),
tgt AS (
  SELECT user_id, event_type, val_cents, ts, CAST(1 AS BIGINT) AS version
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE ts < TIMESTAMP '{_MS_T0}')
  WHERE rn = 1
),
src AS (
  SELECT user_id, event_type, val_cents, ts
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE ts >= TIMESTAMP '{_MS_T0}')
  WHERE rn = 1
)
SELECT coalesce(t.user_id, s.user_id) AS user_id,
       CASE WHEN s.user_id IS NOT NULL THEN s.event_type ELSE t.event_type END AS event_type,
       CASE WHEN s.user_id IS NOT NULL THEN s.val_cents ELSE t.val_cents END AS val_cents,
       CASE WHEN s.user_id IS NOT NULL THEN s.ts ELSE t.ts END AS ts,
       CASE WHEN t.user_id IS NULL THEN CAST(1 AS BIGINT)
            WHEN s.user_id IS NOT NULL THEN t.version + 1
            ELSE t.version END AS version
FROM tgt t FULL JOIN src s ON t.user_id = s.user_id
WHERE NOT (t.user_id IS NOT NULL AND s.user_id IS NOT NULL
           AND s.event_type = 'error')               -- matched tombstone
  AND NOT (s.user_id IS NULL AND t.event_type = 'error')  -- stale purge
"""


@register(
    "q137_merge_sync",
    _Q137_ORACLE,
    "CDC sync via multi-clause MERGE: update/insert/tombstone/purge in one join",
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pandaspark.store import merge_into

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("val_cents"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "val_cents", "ts")
        )

    t0 = F.lit(_MS_T0).cast("timestamp")
    tgt = latest(ev.filter(F.col("ts") < t0)).withColumn(
        "version", F.lit(1).cast("long")
    )
    src = latest(ev.filter(F.col("ts") >= t0))
    return merge_into(
        tgt,
        src,
        ["user_id"],
        matched_update={
            "event_type": "s.event_type",
            "val_cents": "s.val_cents",
            "ts": "s.ts",
            "version": "t.version + 1",
        },
        matched_delete="s.event_type = 'error'",
        not_matched_by_source_delete="t.event_type = 'error'",
    )
