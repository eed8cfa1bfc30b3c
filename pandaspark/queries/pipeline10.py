"""Tranche 10: order statistics, alignment mining, experimentation, and
retrieval-index operators (q140-q150).

q140 weighted median / q141 Gini — both computed from the (group, value)
HISTOGRAM (map-side combinable, shuffle keyed on group AND value so hot
groups spread; the cumulative window runs over the NDV-sized histogram,
never per-row) — the skew-safe shape q27 established for exact
percentiles. q142/q143 — reciprocal-NN and LASER ratio-margin mining
inside label blocks. q144 TWAP / q146 half-life decay — exact-integer
time weighting (whole seconds; power-of-two decay weights). q145 —
MATCH_RECOGNIZE-lite regex funnels over deterministic per-key sequences.
q147 — inverted-index build with capped posting lists. q148 — A/B
two-proportion z with IEEE-only arithmetic. q149 — sliding-window
distinct via bounded pair fan-out. q150 — chi-square feature selection
from exact contingency counts.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load, register, spread, sql_round4, sql_sha_int
from .similarity import _sql_cosine, cosine4_tiles

_Q140_ORACLE = """
WITH h AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v_cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem
  GROUP BY l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT)
),
c AS (
  SELECT grp, v_cents, w,
         sum(w) OVER (PARTITION BY grp ORDER BY v_cents
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(w) OVER (PARTITION BY grp) AS tw
  FROM h
)
SELECT grp AS l_returnflag,
       CAST(min(CASE WHEN cw * 2 >= tw THEN v_cents END) AS BIGINT) / 100.0
         AS weighted_median,
       CAST(max(tw) AS BIGINT) AS total_weight
FROM c
GROUP BY grp
"""


@register(
    "q140_weighted_median",
    _Q140_ORACLE,
    "exact weighted median per group via the skew-safe histogram shuffle",
)
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed selection, not a per-group sort: prices are near-unique,
    so the (group, value) histogram is corpus-sized and a per-group
    cumulative window sorts the corpus in n_groups straggler tasks. The
    operator (grouped_weighted_median) buckets values coarsely with an
    arithmetic shift into a tiny map-side-combinable (group, bucket) weight
    histogram, locates the half-weight crossing BUCKET from broadcast
    prefix sums, and re-scans only that bucket's rows with a local
    cumulative window — bit-equal to the windowed form (test_operators.py)."""
    from pandaspark.operators import grouped_weighted_median

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v_cents"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    wm = grouped_weighted_median(li, "grp", F.col("v_cents"), F.col("q"))
    return wm.select(
        F.col("grp").alias("l_returnflag"),
        (F.col("wm_value").cast("long") / F.lit(100.0)).alias("weighted_median"),
        F.col("total_weight"),
    )


# --- q141: exact Gini concentration per group --------------------------------
#
# The concentration/inequality statistic dataset cards report per source
# or language ("how skewed is document length?"). Naive Gini is an
# all-pairs |xi - xj| sum; the exact closed form over SORTED values,
#   G = (2 * sum_i i*x_(i) - (n + 1) * sum_x) / (n * sum_x),
# is evaluated here from the (group, value) HISTOGRAM, never from
# per-row ranks: a run of c equal values v starting after cumulative
# count s contributes v * (c*s + c*(c+1)/2) to sum_i i*x_(i). One
# map-side-combinable histogram aggregate (shuffle keyed on group AND
# value — hot groups spread), one cumulative window over the NDV-sized
# histogram, exact integers until the single final division.

_Q141_ORACLE = """
WITH h AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents WHERE n_chars IS NOT NULL
  GROUP BY lang, CAST(n_chars AS BIGINT)
),
cum AS (
  SELECT lang, v, c,
         coalesce(sum(c) OVER (PARTITION BY lang ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS s
  FROM h
),
g AS (
  SELECT lang,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(v * c) AS BIGINT) AS sx,
         CAST(sum(v * (c * s + c * (c + 1) // 2)) AS BIGINT) AS s1
  FROM cum GROUP BY lang
)
SELECT lang, n AS n_docs,
       floor((CAST(2 * s1 - (n + 1) * sx AS DOUBLE) / (n * sx)) * 10000 + 0.5)
         / 10000.0 AS gini
FROM g
"""


@register(
    "q141_gini_concentration",
    _Q141_ORACLE,
    "exact per-group Gini from the value histogram — no all-pairs, no per-row ranks",
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    h = d.groupBy("lang", F.col("n_chars").cast("long").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wl = Window.partitionBy("lang").orderBy("v")
    cum = h.withColumn(
        "s",
        F.coalesce(
            F.sum("c").over(wl.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ),
    )
    g = cum.groupBy("lang").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("v") * F.col("c")).alias("sx"),
        F.sum(
            F.col("v")
            * (F.col("c") * F.col("s") + F.expr("c * (c + 1) div 2"))
        ).alias("s1"),
    )
    gini = (
        (F.lit(2) * F.col("s1") - (F.col("n") + 1) * F.col("sx")).cast("double")
        / (F.col("n") * F.col("sx"))
    )
    return g.select(
        "lang",
        F.col("n").alias("n_docs"),
        (F.floor(gini * 10000 + F.lit(0.5)) / 10000.0).alias("gini"),
    )


# --- q142: mutual nearest neighbors within label blocks ----------------------
#
# The reciprocal-best-match primitive behind bitext mining and alignment
# curation (Artetxe & Schwenk 2019's margin mining is a scored variant):
# keep pair (a, b) only when b is a's top-1 cosine neighbor AND a is b's —
# reciprocity is the cheap filter that removes hub vectors which are
# "nearest" to everything. All-pairs runs INSIDE label blocks only (the
# SemDeDup/q115 blocking pattern: at 100 TB the block is a cluster
# assignment, bounding each task to block_size^2 work); ranking uses the
# ROUNDED cosine with a vec_id tie-break so both engines rank identically.

_NN_STRIP = 2048  # src-row strip width: per-task transient = strip x block
_NN_SELF = -(1 << 60)  # self-pair sentinel, safe under negation (int64.min isn't)


def _block_nn_kernel(strip, pdf):
    """Per label block: the full cosine matrix in numpy strips of `strip`
    source rows (cosine4_tiles, the dense-linalg exception documented
    there), reduced to ONE row per vector — best neighbor (c4 DESC, dst ASC
    tie-break) and the top-_MM_K neighborhood sum. The HOF-expression form
    of the same query ran 313 s at 25x (250M pairs through the interpreted
    fold); this kernel is ~30x less. Each strip spans whole rows, which the
    argsort needs. Columns are sorted by vec_id so a STABLE argsort of -c4
    realizes the (c4 DESC, dst ASC) order exactly; all kept quantities are
    int64. At 100 TB the block is a cluster assignment (q115's lesson:
    bound the block, not the corpus), so block_size^2 is a design
    constant."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "label": pd.array([], dtype="int32"),
            "src": pd.array([], dtype="int64"),
            "bdst": pd.array([], dtype="int64"),
            "c4": pd.array([], dtype="int64"),
            "sk": pd.array([], dtype="int64"),
            "nk": pd.array([], dtype="int64"),
        }
    )
    n = len(pdf)
    if n < 2:
        return empty
    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    label = np.int32(pdf["label"].iloc[0])
    k = min(_MM_K, n - 1)
    outs = []
    for sl, _, c4 in cosine4_tiles(mat, mat, strip, n):
        c4 = c4.astype(np.int64)
        rows = np.arange(c4.shape[0])
        c4[rows, sl.start + rows] = _NN_SELF  # mask self-pairs
        order = np.argsort(-c4, axis=1, kind="stable")
        top = np.take_along_axis(c4, order[:, :k], axis=1)
        best = order[:, 0]
        outs.append(
            pd.DataFrame(
                {
                    "label": np.full(len(rows), label, dtype=np.int32),
                    "src": ids[sl],
                    "bdst": ids[best],
                    "c4": c4[rows, best],
                    "sk": top.sum(axis=1),
                    "nk": np.full(len(rows), k, dtype=np.int64),
                }
            )
        )
    return pd.concat(outs, ignore_index=True)


def _block_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("label", T.IntegerType()),
            T.StructField("src", T.LongType()),
            T.StructField("bdst", T.LongType()),
            T.StructField("c4", T.LongType()),
            T.StructField("sk", T.LongType()),
            T.StructField("nk", T.LongType()),
        ]
    )
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    # the strip width is bound at build time: Python workers re-import this
    # module, so a width patched on the driver would not reach the kernel
    kernel = functools.partial(_block_nn_kernel, _NN_STRIP)
    return e.groupBy("label").applyInPandas(kernel, schema)


_Q142_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (
  SELECT a.label, a.vec_id AS src, b.vec_id AS dst,
         {sql_round4(_sql_cosine('a.v', 'b.v'))} AS cosine
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
),
best AS (
  SELECT label, src, dst, cosine,
         row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
  FROM c
  QUALIFY rk = 1
)
SELECT x.label AS label, x.src AS vec_a, x.dst AS vec_b, x.cosine AS cosine
FROM best x JOIN best y ON y.src = x.dst AND y.dst = x.src
WHERE x.src < x.dst
"""


@register(
    "q142_mutual_nn",
    _Q142_ORACLE,
    "reciprocal top-1 cosine pairs within label blocks (bitext-mining filter)",
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one kernel row per vector (best neighbor inside its label block),
    # then reciprocity WITHOUT a self-join: a pair {a, b} is mutual exactly
    # when BOTH directed best-rows land in its canonical (least, greatest)
    # group — no checkpoint, no join, one tiny shuffle over N best-rows
    g = _block_nn(spark, sf_dir)
    bk = g.select(
        F.least(F.col("src"), F.col("bdst")).alias("vec_a"),
        F.greatest(F.col("src"), F.col("bdst")).alias("vec_b"),
        "label",
        (F.col("c4") / 10000.0).alias("cosine"),
    )
    return (
        bk.groupBy("vec_a", "vec_b")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.any_value("label").alias("label"),
            F.any_value("cosine").alias("cosine"),
        )
        .filter(F.col("_n") == 2)
        .select("label", "vec_a", "vec_b", "cosine")
    )


# --- q143: margin-scored alignment mining ------------------------------------
#
# Artetxe & Schwenk 2019's ratio-margin criterion, the scoring step LASER
# bitext mining runs on top of the q142 reciprocal filter: a candidate
# pair is strong when its cosine stands out against BOTH endpoints' local
# neighborhoods,  margin(a,b) = cos(a,b) / ((avg_k(a) + avg_k(b)) / 2).
# Determinism discipline: cosines are 4-dp-rounded BEFORE any use, and
# each neighborhood average is formed from the INTEGER sum of those
# rounded values (sum of k BIGINTs — order-free), so the margin is one
# IEEE division of exactly-agreed operands. Same label-block bounding as
# q142; the k-NN sums are one bounded-window aggregate per vector.

_MM_K = 4

_Q143_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS MATERIALIZED (
  SELECT a.label, a.vec_id AS src, b.vec_id AS dst,
         CAST(floor(({_sql_cosine('a.v', 'b.v')}) * 10000 + 0.5) AS BIGINT) AS c4
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
),
rk AS (
  SELECT label, src, dst, c4,
         row_number() OVER (PARTITION BY src ORDER BY c4 DESC, dst) AS rk
  FROM c
),
knn AS (
  SELECT src, CAST(sum(c4) AS BIGINT) AS sk, CAST(count(*) AS BIGINT) AS nk
  FROM rk WHERE rk <= {_MM_K} GROUP BY src
),
best AS (SELECT label, src, dst, c4 FROM rk WHERE rk = 1),
mutual AS (
  SELECT x.label, x.src AS va, x.dst AS vb, x.c4
  FROM best x JOIN best y ON y.src = x.dst AND y.dst = x.src
  WHERE x.src < x.dst
)
SELECT m.label AS label, m.va AS vec_a, m.vb AS vec_b,
       m.c4 / 10000.0 AS cosine,
       floor((CAST(m.c4 AS DOUBLE) * (ka.nk + kb.nk))
             / CAST(ka.sk + kb.sk AS DOUBLE)
             * 10000 + 0.5) / 10000.0 AS margin
FROM mutual m
JOIN knn ka ON ka.src = m.va
JOIN knn kb ON kb.src = m.vb
"""


@register(
    "q143_margin_mining",
    _Q143_ORACLE,
    "ratio-margin scores on reciprocal pairs (LASER bitext-mining criterion)",
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared block kernel yields best neighbor AND the top-K
    # neighborhood sum in one pass over each label block (see
    # _block_nn_kernel for the exactness argument)
    g = _block_nn(spark, sf_dir)
    # reciprocity without a self-join (q142's canonical-group trick), with
    # each endpoint's (sk, nk) recovered from whichever directed row
    # carried it — zero joins after the pair scan
    bk = g.select(
        F.least(F.col("src"), F.col("bdst")).alias("vec_a"),
        F.greatest(F.col("src"), F.col("bdst")).alias("vec_b"),
        "src",
        "label",
        "c4",
        "sk",
        "nk",
    )
    mut = (
        bk.groupBy("vec_a", "vec_b")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.any_value("label").alias("label"),
            F.any_value("c4").alias("c4"),
            F.max(F.when(F.col("src") == F.col("vec_a"), F.col("sk"))).alias("sk_a"),
            F.max(F.when(F.col("src") == F.col("vec_a"), F.col("nk"))).alias("nk_a"),
            F.max(F.when(F.col("src") == F.col("vec_b"), F.col("sk"))).alias("sk_b"),
            F.max(F.when(F.col("src") == F.col("vec_b"), F.col("nk"))).alias("nk_b"),
        )
        .filter(F.col("_n") == 2)
    )
    # pooled-neighborhood ratio margin: cos(a,b) / ((sk_a+sk_b)/(nk_a+nk_b)
    # rescaled) — numerator and denominator both in 4-dp integer units, so
    # the scale cancels and ONE IEEE division produces the score
    margin = (
        F.col("c4").cast("double")
        * (F.col("nk_a") + F.col("nk_b"))
        / (F.col("sk_a") + F.col("sk_b")).cast("double")
    )
    return mut.select(
        "label",
        F.col("vec_a"),
        F.col("vec_b"),
        (F.col("c4") / 10000.0).alias("cosine"),
        (F.floor(margin * 10000 + F.lit(0.5)) / 10000.0).alias("margin"),
    )


# --- q144: time-weighted average over irregular series ------------------------
#
# TWAP — the right way to average an irregularly-sampled series (sensor
# states, account balances, feature values between updates): each
# observation holds until the next one, so the mean is the step-function
# integral  sum(v_i * dt_i) / sum(dt_i), NOT the row mean that implicitly
# weights bursty periods more. Exact integers: cents x whole seconds per
# segment (BIGINT), one final division. Per-user lead() windows carry the
# segment lengths; users partition the work, and the last observation of
# each user (no successor) contributes zero width on both engines.

_Q144_ORACLE = """
WITH s AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v_cents,
         CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events WHERE value IS NOT NULL
),
seg AS (
  SELECT user_id, v_cents,
         CAST(date_diff('second', ts,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS BIGINT) AS dt
  FROM s
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(dt) AS BIGINT) AS span_seconds,
       floor(CAST(sum(v_cents * dt) AS DOUBLE) / sum(dt) / 100.0 * 10000 + 0.5)
         / 10000.0 AS twap
FROM seg
WHERE dt IS NOT NULL AND dt > 0
GROUP BY user_id
"""


@register(
    "q144_time_weighted_avg",
    _Q144_ORACLE,
    "TWAP: exact step-function integral over irregular per-user series",
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("v_cents"),
            "ts",
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = s.withColumn(
        "dt",
        (F.lead("ts").over(w).cast("long") - F.col("ts").cast("long")),
    )
    twap = F.sum(F.col("v_cents") * F.col("dt")).cast("double") / F.sum("dt") / 100.0
    return (
        seg.filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("dt").alias("span_seconds"),
            (F.floor(twap * 10000 + F.lit(0.5)) / 10000.0).alias("twap"),
        )
    )


# --- q145: sequence pattern matching (MATCH_RECOGNIZE-lite) -------------------
#
# The row-pattern-recognition feature (SQL:2016 MATCH_RECOGNIZE, Flink
# CEP) that neither Spark nor DuckDB ships: find how many times each user
# runs the funnel  view -> click* -> purchase  as a CONTIGUOUS event
# subsequence. Encoding: one char per event type (first letters are
# distinct here), the per-user sequence built deterministically
# (sort_array over (ts, event_id, char) structs — never a bare
# collect_list order), then the pattern is a regex counted with standard
# non-overlapping leftmost semantics, identical in Java regex and RE2 for
# this pattern class. Per-user strings bound the state exactly like a
# sessionized MATCH_RECOGNIZE partition; at 100 TB the partition key
# (user/session) is what bounds each task's sequence.

_SP_PATTERN = "vc*p"

_Q145_ORACLE = f"""
WITH s AS (
  SELECT user_id, substring(event_type, 1, 1) AS ch,
         CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events WHERE event_type IS NOT NULL
),
seq AS (
  SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS sq
  FROM s GROUP BY user_id
)
SELECT user_id,
       CAST(length(sq) AS BIGINT) AS n_events,
       CAST(length(regexp_replace(sq, 'e', '', 'g')) AS BIGINT) AS n_ok_events,
       CAST(len(regexp_extract_all(sq, '{_SP_PATTERN}')) AS BIGINT) AS n_funnels
FROM seq
"""


@register(
    "q145_sequence_match",
    _Q145_ORACLE,
    "MATCH_RECOGNIZE-lite: regex funnels over deterministic per-user sequences",
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("ch")).alias(
                "o"
            ),
        )
    )
    seq = (
        s.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("o")).alias("os"))
        .select(
            "user_id",
            F.array_join(F.transform("os", lambda o: o["ch"]), "").alias("sq"),
        )
    )
    return seq.select(
        "user_id",
        F.length("sq").cast("long").alias("n_events"),
        F.length(F.regexp_replace("sq", "e", "")).cast("long").alias("n_ok_events"),
        F.regexp_count("sq", F.lit(_SP_PATTERN)).cast("long").alias("n_funnels"),
    )


# --- q146: half-life decayed engagement score --------------------------------
#
# The recency-weighted aggregate behind every freshness-aware ranking and
# user-engagement feature: each event contributes value * 2^(-age_days)
# with a 1-day half-life. Exactness trick: the weights are POWERS OF TWO,
# so the whole sum runs in scaled integers — v_cents * 2^(horizon - age)
# is a BIGINT with zero rounding anywhere (never a float pow(), whose
# libm results differ across engines); ONE division by 2^horizon at the
# end produces the score. Ages clamp to the horizon so the scale bound
# is static: |term| <= cents * 2^30.

_HL_HORIZON_DAYS = 30
_HL_ANCHOR = "2024-02-01 00:00:00"  # fixed as-of point (data spans Jan 2024)

_Q146_ORACLE = f"""
WITH s AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS v_cents,
         least(CAST(date_diff('day', CAST(ts AS TIMESTAMP),
                              TIMESTAMP '{_HL_ANCHOR}') AS BIGINT),
               {_HL_HORIZON_DAYS}) AS age
  FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v_cents * (CAST(1 AS BIGINT) << ({_HL_HORIZON_DAYS} - age)))
         AS BIGINT) AS score_scaled,
       floor(CAST(sum(v_cents * (CAST(1 AS BIGINT) << ({_HL_HORIZON_DAYS} - age)))
                  AS DOUBLE)
             / {float(2 ** _HL_HORIZON_DAYS)} / 100.0 * 10000 + 0.5) / 10000.0
         AS decayed_score
FROM s
GROUP BY user_id
"""


@register(
    "q146_decayed_engagement",
    _Q146_ORACLE,
    "half-life decayed scores as exact power-of-two integer sums",
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    anchor = F.lit(_HL_ANCHOR).cast("timestamp")
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("v_cents"),
            F.least(
                F.datediff(anchor.cast("date"), F.col("ts").cast("date")).cast("long"),
                F.lit(_HL_HORIZON_DAYS).cast("long"),
            ).alias("age"),
        )
    )
    term = F.col("v_cents") * F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HL_HORIZON_DAYS} - age)")
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(term).alias("score_scaled"),
        (
            F.floor(
                F.sum(term).cast("double")
                / F.lit(float(2 ** _HL_HORIZON_DAYS))
                / 100.0
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("decayed_score"),
    )


# --- q147: inverted index build ----------------------------------------------
#
# The retrieval-index construction step (what Lucene/ES segment building
# does, relationally): term -> document frequency, collection frequency,
# and a posting list of doc_ids. Scale discipline: the posting list is
# CAPPED per term (rank window BEFORE any collect, so no task ever
# materializes an unbounded list — a stopword's postings would otherwise
# be corpus-sized), the kept term set is a deterministic top-100 by
# (df desc, term), and lists serialize as JSON in canonical sorted order.

_II_TOP_TERMS = 100
_II_MAX_POSTINGS = 50

_Q147_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
           AS term
  FROM documents WHERE text IS NOT NULL
),
tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS n
  FROM toks WHERE term <> '' GROUP BY term, doc_id
),
stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(n) AS BIGINT) AS cf
  FROM tf GROUP BY term
),
top AS (SELECT * FROM stats ORDER BY df DESC, term LIMIT {_II_TOP_TERMS}),
pl AS (
  SELECT term, doc_id FROM (
    SELECT tf.term, tf.doc_id,
           row_number() OVER (PARTITION BY tf.term ORDER BY tf.doc_id) AS rn
    FROM tf JOIN top USING (term))
  WHERE rn <= {_II_MAX_POSTINGS}
),
postings AS (
  SELECT term, to_json(array_agg(doc_id ORDER BY doc_id)) AS postings
  FROM pl GROUP BY term
)
SELECT t.term AS term, t.df AS df, t.cf AS cf, p.postings AS postings
FROM top t JOIN postings p USING (term)
"""


@register(
    "q147_inverted_index",
    _Q147_ORACLE,
    "inverted index build: df/cf stats + capped, canonically-ordered postings",
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import _norm_text

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = (
        spread(d.select("doc_id", F.split(_norm_text(), " ").alias("w")))
        .select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=False  # feeds stats AND the posting-list leg
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("n").alias("cf")
    )
    top = stats.orderBy(F.col("df").desc(), "term").limit(_II_TOP_TERMS)
    wterm = Window.partitionBy("term").orderBy("doc_id")
    pl = (
        tf.join(F.broadcast(top.select("term")), "term", "left_semi")
        .withColumn("rn", F.row_number().over(wterm))
        .filter(F.col("rn") <= _II_MAX_POSTINGS)
    )
    postings = pl.groupBy("term").agg(
        F.to_json(F.array_sort(F.collect_list("doc_id"))).alias("postings")
    )
    return top.join(postings, "term").select("term", "df", "cf", "postings")


# --- q148: A/B experiment read-out (two-proportion z) -------------------------
#
# The experiment-analysis staple: deterministically assign users to
# arms (salted 48-bit hash, the engine's reproducible-sampling idiom),
# measure conversion (a purchase above a fixed value threshold — selective
# enough that neither arm's rate degenerates to 0 or 1), and report the
# z-score. Numeric discipline: counts are exact BIGINTs; the z formula
# uses only +,-,*,/ and sqrt — every one IEEE-correctly-rounded and
# therefore bit-identical across engines (no libm log/exp anywhere) —
# then one 4-dp rounding. The per-user reduction is a hash aggregate;
# the final stats are a 2-row fold.

_Q148_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         {sql_sha_int("concat('ab|', CAST(user_id AS VARCHAR))")} % 2 AS arm,
         max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
),
s AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM u GROUP BY arm
),
w AS (
  SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
         max(CASE WHEN arm = 0 THEN conv END) AS c0,
         max(CASE WHEN arm = 1 THEN n END) AS n1,
         max(CASE WHEN arm = 1 THEN conv END) AS c1
  FROM s
)
SELECT n0, c0, n1, c1,
       floor((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0) * 10000 + 0.5)
         / 10000.0 AS lift,
       floor((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt(CAST(c0 + c1 AS DOUBLE) / (n0 + n1)
                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1))
             * 10000 + 0.5) / 10000.0 AS z_score
FROM w
"""


@register(
    "q148_ab_test",
    _Q148_ORACLE,
    "two-proportion z read-out over hash-assigned arms, IEEE-deterministic",
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import sha_int

    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1)
            .otherwise(0)
        ).alias(
            "converted"
        )
    ).select(
        (sha_int(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))) % 2).alias(
            "arm"
        ),
        "converted",
    )
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    w = s.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    se = F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1")))
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000.0  # noqa: E731
    return w.select(
        "n0", "c0", "n1", "c1",
        r4(p1 - p0).alias("lift"),
        r4((p1 - p0) / se).alias("z_score"),
    )


# --- q149: trailing-window distinct users (sliding DAU/WAU) -------------------
#
# Distinct-over-sliding-window is famously NON-decomposable: yesterday's
# distinct count cannot be updated into today's, so RANGE-frame windows
# don't apply (count_distinct is unsupported there) and engines fall back
# to re-scanning per window. The scalable relational form: reduce to
# DISTINCT (day, user) pairs first (the only cardinality that matters),
# fan each pair out to the <=7 report days it contributes to (a bounded
# explode — fan-out = window length, NOT data size), and hash-aggregate
# a distinct count per report day. One shuffle keyed on (report_day,
# user), map-side combinable; report days restricted to days present in
# the data.

_SW_DAYS = 7

_Q149_ORACLE = f"""
WITH p AS (
  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
  FROM events
),
d AS (SELECT DISTINCT day FROM p)
SELECT d.day AS day,
       CAST((SELECT count(*) FROM p WHERE p.day = d.day) AS BIGINT) AS dau,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau_trailing{_SW_DAYS}
FROM d JOIN p ON p.day BETWEEN d.day - {_SW_DAYS - 1} AND d.day
GROUP BY d.day
"""


@register(
    "q149_sliding_distinct",
    _Q149_ORACLE,
    "trailing-7-day distinct users via bounded pair fan-out (non-decomposable op)",
)
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)  # feeds dau, the fan-out, and the day list
    )
    dau = p.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = p.select("day").distinct()
    ex = p.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), _SW_DAYS - 1))
        ).alias("day"),
        "user_id",
    )
    wau = (
        ex.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias(f"wau_trailing{_SW_DAYS}"))
    )
    return dau.join(wau, "day")


# --- q150: chi-square term selection -----------------------------------------
#
# Supervised feature selection (the chi2 criterion every classical text
# classifier build runs): score each term's association with the 'en'
# class from its exact 2x2 document-frequency contingency table,
#   chi2 = N * (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)).
# Counts a,b,c,d are exact BIGINTs from one distinct-(term, doc) pass;
# the formula then runs in doubles (numerator AND denominator — either
# can exceed BIGINT at corpus scale) —
# deterministic anyway: products of exactly-represented integers with a
# fixed op order round identically in both engines. Top-30 by
# (4-dp-rounded chi2, term) so ranking ties are stable.

_X2_MIN_DF = 10
_X2_TOPK = 30

_Q150_ORACLE = f"""
WITH td AS (
  SELECT DISTINCT doc_id, lang = 'en' AS is_en,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
           AS term
  FROM documents WHERE text IS NOT NULL
),
n AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT CASE WHEN lang = 'en' THEN doc_id END) AS BIGINT) AS n_en
  FROM documents WHERE text IS NOT NULL
),
t AS (
  SELECT term,
         CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN is_en THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM td WHERE term <> ''
  GROUP BY term
  HAVING count(*) >= {_X2_MIN_DF}
),
x AS (
  SELECT term, a, b, n_en - a AS c, n_docs - n_en - b AS d, n_docs
  FROM t, n
)
SELECT term, a, b, CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
       floor(CAST(n_docs AS DOUBLE)
             * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
             * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
             / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d))
             * 10000 + 0.5) / 10000.0 AS chi2
FROM x
ORDER BY chi2 DESC, term
LIMIT {_X2_TOPK}
"""


@register(
    "q150_chi2_terms",
    _Q150_ORACLE,
    "chi-square term-class association from exact 2x2 contingency counts",
)
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import _norm_text

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    td = (
        spread(
            d.select("doc_id", (F.col("lang") == "en").alias("is_en"),
                     F.split(_norm_text(), " ").alias("w"))
        )
        .select("doc_id", "is_en", F.explode("w").alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    n = d.agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count_distinct(F.when(F.col("lang") == "en", F.col("doc_id"))).alias("n_en"),
    )
    t = (
        td.groupBy("term")
        .agg(
            F.sum(F.when(F.col("is_en"), 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("is_en"), 0).otherwise(1)).alias("b"),
        )
        .filter((F.col("a") + F.col("b")) >= _X2_MIN_DF)
    )
    x = t.crossJoin(F.broadcast(n)).select(
        "term",
        "a",
        "b",
        (F.col("n_en") - F.col("a")).alias("c"),
        (F.col("n_docs") - F.col("n_en") - F.col("b")).alias("d"),
        "n_docs",
    )
    diff = F.col("a").cast("double") * F.col("d") - F.col("b").cast("double") * F.col("c")
    chi2 = (
        F.col("n_docs").cast("double")
        * diff
        * diff
        / ((F.col("a") + F.col("b")).cast("double") * (F.col("c") + F.col("d"))
           * (F.col("a") + F.col("c")) * (F.col("b") + F.col("d")))
    )
    r4 = F.floor(chi2 * 10000 + F.lit(0.5)) / 10000.0
    return (
        x.select("term", "a", "b", "c", "d", r4.alias("chi2"))
        .orderBy(F.col("chi2").desc(), "term")
        .limit(_X2_TOPK)
    )
