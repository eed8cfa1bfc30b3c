"""Third pipeline tranche: training-data chunking manifests and
event-analytics shapes (cohort retention, ordered funnels).

The chunking manifest is the front door of a pretraining tokenizer stage:
at 100 TB it is a pure map (token count + bounded sequence explode) with no
shuffle at all; the cohort/funnel queries reduce events to one row per
user (shuffle on user_id — the natural key) before any matrix/step logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load, register, round4, spread
from .similarity import _sq_dist, _sql_sq_dist

_CHUNK = 32  # tokens per chunk
_STRIDE = 24  # tokens between chunk starts (CHUNK - STRIDE = 8 overlap)


# --- q97: sliding-window chunk manifest -------------------------------------

_Q97_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, source,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(least(tok_start + {_CHUNK}, n_tok) AS BIGINT) AS tok_end,
       CAST((tok_start / {_STRIDE}) AS BIGINT) AS chunk_idx
FROM (SELECT doc_id, source, n_tok,
             unnest(range(0, greatest(n_tok, 1), {_STRIDE})) AS tok_start
      FROM toks)
"""


def chunk_manifest(docs: DataFrame) -> DataFrame:
    """The chunking transform itself: (doc_id, source, text) → overlapping
    token-window manifest rows: a stateless map plus a bounded explode,
    registered over the documents table as q97."""
    n_tok = F.regexp_count("text", F.lit(r"\S+")).cast("long")
    starts = F.sequence(
        F.lit(0).cast("long"),
        F.greatest(F.col("n_tok") - 1, F.lit(0).cast("long")),
        F.lit(_STRIDE).cast("long"),
    )
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", "source", n_tok.alias("n_tok"))
        .select("doc_id", "source", "n_tok", F.explode_outer(starts).alias("tok_start"))
        .select(
            "doc_id",
            "source",
            "tok_start",
            F.least(F.col("tok_start") + _CHUNK, F.col("n_tok")).alias("tok_end"),
            (F.col("tok_start") / _STRIDE).cast("long").alias("chunk_idx"),
        )
    )


@register("q97_chunk_manifest", _Q97_ORACLE, "sliding-window token-chunk manifest with overlap")
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window manifest (chunk 32 / stride 24): each doc
    yields ceil(n_tok/stride) chunk rows [start, min(start+32, n_tok)).
    The explode is bounded by doc length — no shuffle, no state; at
    100 TB this is a single map stage whose output feeds the tokenizer.
    Zero-token docs still yield one empty chunk row (the manifest must
    account for every input doc)."""
    # the isNotNull invariant lives in chunk_manifest; Catalyst pushes that
    # deterministic filter through spread's repartition into the scan, so
    # the shuffle still carries only surviving rows (verified: PushedFilters
    # shows IsNotNull(text) with this shape)
    return chunk_manifest(
        spread(load(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    )


# --- q98: weekly cohort retention -------------------------------------------

_Q98_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         min(date_trunc('week', CAST(ts AS DATE))) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS act_week
  FROM events
)
SELECT CAST(cohort_week AS DATE) AS cohort_week,
       CAST(date_diff('week', cohort_week, act_week) AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM firsts JOIN activity USING (user_id)
GROUP BY cohort_week, week_offset
"""


@register("q98_cohort_retention", _Q98_ORACLE, "weekly cohort retention matrix")
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention matrix: cohort = first active ISO week per user,
    each (user, active-week) pair counts into (cohort, offset). Both halves
    shuffle once on user_id and the join is user-granular (150 rows here;
    at 100 TB still |users|, not |events|). Offsets are exact integer week
    diffs between Monday-truncated dates."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("act_week")
    )
    activity = e.distinct()
    firsts = activity.groupBy("user_id").agg(F.min("act_week").alias("cohort_week"))
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("act_week", "cohort_week") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- q99: ordered conversion funnel -----------------------------------------

_Q99_ORACLE = """
WITH steps AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT CAST(count(t_view) AS BIGINT) AS viewed,
       CAST(count(CASE WHEN t_click > t_view THEN 1 END) AS BIGINT) AS clicked_after_view,
       CAST(count(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
            AS BIGINT) AS full_funnel
FROM steps
"""


@register("q99_ordered_funnel", _Q99_ORACLE, "view→click→purchase ordered funnel")
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel via first-touch timestamps: one conditional-min
    aggregate per step collapses events to a row per user (single shuffle
    on user_id, map-side partials), then strict inequalities enforce step
    order. NULL first-touches fail every comparison, so each stage counts
    only users who completed the previous one first."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_touch(step: str):
        return F.min(F.when(F.col("event_type") == step, F.col("ts"))).alias(f"t_{step}")

    steps = e.groupBy("user_id").agg(
        first_touch("view"), first_touch("click"), first_touch("purchase")
    )
    return steps.agg(
        F.count("t_view").alias("viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), F.lit(1))).alias(
            "clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                F.lit(1),
            )
        ).alias("full_funnel"),
    )


# --- q100: fixed-iteration Lloyd k-means over embeddings --------------------
#
# The iterative-algorithm shape the similarity family lacked: 2 unrolled
# Lloyd iterations (deterministic seeds = lowest vec_ids, argmin ties to the
# lowest cluster id), exact integer micro-unit centroid means (float sums
# would be summation-order-dependent — q41's convention), and inertia
# accumulated as round4-scaled INTEGER ten-thousandths so the report sum is
# associative and engine-exact. Plan at 100 TB: centroids are K×D rows and
# BROADCAST onto the vector scan each iteration (classic learn-small/
# apply-wide); the argmin is a min(struct) hash aggregate, never a window;
# the centroid update is D codegen'd integer sums with map-side partials.

_KM_K = 5
_KM_DIMS = 64


def _km_sql_centroid() -> str:
    # floor(x*1e6 + 0.5), NOT library round(): library rounding is
    # engine-divergent on knife-edge doubles (see round4's docstring), and
    # with 64 dims × every row the knife-edge exposure here is real
    return ", ".join(
        f"CAST(sum(CAST(floor(emb[{i + 1}] * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / CAST(count(*) AS DOUBLE) / 1000000.0"
        for i in range(_KM_DIMS)
    )


def _km_sql_assign(cents: str) -> str:
    return f"""
  SELECT vec_id, emb, cluster, d FROM (
    SELECT e.vec_id, e.emb, c.cluster,
           {_sql_sq_dist('e.emb', 'c.centroid', _KM_DIMS)} AS d,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_sq_dist('e.emb', 'c.centroid', _KM_DIMS)}, c.cluster) AS rk
    FROM e CROSS JOIN {cents} c)
  WHERE rk = 1"""


_Q100_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
c0 AS (
  SELECT vec_id AS cluster, emb AS centroid FROM e WHERE vec_id < {_KM_K}
),
a1 AS ({_km_sql_assign('c0')}),
c1 AS (
  SELECT cluster, list_value({_km_sql_centroid()}) AS centroid
  FROM a1 GROUP BY cluster
),
a2 AS ({_km_sql_assign('c1')})
SELECT cluster,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(vec_id) AS BIGINT) AS id_sum,
       CAST(sum(CAST(floor(d * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0
         AS inertia
FROM a2 GROUP BY cluster
"""


@register("q100_kmeans", _Q100_ORACLE, "2-iteration Lloyd k-means, exact integer centroids")
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: single-row-group fixture scans feed ONE partition, and the
    # 64-dim × K distance folds are the most compute-heavy map work in the
    # tranche — equalize before both assignment passes
    # e feeds c0 and BOTH assignment passes — pin it so the scan + spread
    # exchange run once, not once per reference (the a2 plan otherwise
    # re-evaluates the scan subtree through c1 <- a1 <- e as well)
    e = spread(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
        )
    ).localCheckpoint(eager=False)

    def assign(cents):
        # K rows per vector via broadcast; argmin as a min(struct) hash
        # aggregate (ties break to the lowest cluster id through the
        # struct's lexicographic order) — no per-vector window anywhere
        scored = e.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "emb",
            F.struct(_sq_dist(F.col("emb"), F.col("centroid")).alias("d"), "cluster").alias(
                "dc"
            ),
        )
        return (
            scored.groupBy("vec_id")
            .agg(F.min("dc").alias("m"), F.any_value("emb").alias("emb"))
            .select(
                "vec_id", "emb", F.col("m.cluster").alias("cluster"), F.col("m.d").alias("d")
            )
        )

    # floor(x*1e6 + 0.5): three IEEE-exact ops, bit-identical in DuckDB
    # (library round() diverges on knife-edge doubles — round4 docstring).
    # ONE parsed expr string, not 64 Column objects: building wide
    # aggregates through per-dimension Python Column calls costs ~1.3 s of
    # py4j round-trips PER QUERY BUILD (measured; execution itself is
    # 0.4 s) — the SQL string is a single JVM-side parse.
    micro_means = ", ".join(
        f"cast(sum(cast(floor(emb[{i}] * 1000000 + 0.5d) as bigint)) as double)"
        f" / cast(count(1) as double) / 1000000.0d"
        for i in range(_KM_DIMS)
    )

    c0 = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"), F.col("emb").alias("centroid")
    )
    a1 = assign(c0)
    c1 = a1.groupBy("cluster").agg(
        F.expr(f"array({micro_means})").alias("centroid")
    )
    a2 = assign(c1)
    return a2.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vec_id").alias("id_sum"),
        (F.sum(F.floor(F.col("d") * 10000 + F.lit(0.5)).cast("long")) / F.lit(10000.0)).alias(
            "inertia"
        ),
    )


# --- q103: BM25-style ranked retrieval --------------------------------------
#
# Ranked keyword retrieval over the corpus — the search-side primitive of a
# training-data engine (contamination triage, targeted corpus slicing). The
# classic BM25 log-idf is replaced by its monotone rational core
# (N - df + 0.5)/(df + 0.5): libm log() is the one term that diverges
# between engines in the last ulp, while the rational form keeps every
# factor an exact-input IEEE expression both engines evaluate identically.
# Per-doc scores sum a FIXED, explicit term order (t1 + t2) + t3 — no
# order-dependent float aggregation anywhere. Plan at 100 TB: one scan
# computing per-doc tf/length, a single 1-row stats broadcast (N, avgdl,
# per-term df), then TakeOrdered top-20 — no shuffle of the corpus at all.

_BM25_TERMS = ("join", "vector", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_sql_tf(t: str) -> str:
    return f"length(regexp_extract_all(lower(text), '\\b{t}\\b'))"


_Q103_ORACLE = f"""
WITH tf AS (
  SELECT doc_id,
         CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS dl,
         {", ".join(f"CAST({_bm25_sql_tf(t)} AS BIGINT) AS tf{i}" for i, t in enumerate(_BM25_TERMS))}
  FROM documents WHERE text IS NOT NULL
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
         {", ".join(f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}" for i in range(len(_BM25_TERMS)))}
  FROM tf
),
scored AS (
  SELECT doc_id,
         {" + ".join(
             f"(CAST(n_docs - df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5)"
             f" * (CAST(tf{i} AS DOUBLE) * ({_BM25_K1} + 1.0))"
             f" / (CAST(tf{i} AS DOUBLE) + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * CAST(dl AS DOUBLE) / avgdl))"
             for i in range(len(_BM25_TERMS))
         )} AS raw
  FROM tf CROSS JOIN stats
)
SELECT doc_id, floor(raw * 10000 + 0.5) / 10000.0 AS bm25
FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


@register("q103_bm25", _Q103_ORACLE, "BM25 (rational-idf) ranked retrieval, top-20")
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents").filter(F.col("text").isNotNull()))
    lower = F.lower(F.col("text"))
    tf_cols = [
        F.regexp_count(lower, F.lit(rf"\b{t}\b")).cast("long").alias(f"tf{i}")
        for i, t in enumerate(_BM25_TERMS)
    ]
    # tf feeds BOTH the 1-row stats aggregate and the scoring join; the
    # regex projection sits ABOVE spread's exchange, so exchange reuse
    # alone would still run the 4 regex passes once per consumer — cut the
    # plan here so the per-doc scan work happens exactly once
    tf = d.select(
        "doc_id",
        F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("dl"),
        *tf_cols,
    ).localCheckpoint(eager=False)
    stats = tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def contrib(i: int):
        tfi = F.col(f"tf{i}").cast("double")
        dfi = F.col(f"df{i}").cast("double")
        idf = ((F.col("n_docs") - F.col(f"df{i}")).cast("double") + F.lit(0.5)) / (
            dfi + F.lit(0.5)
        )
        norm = tfi + F.lit(_BM25_K1) * (
            F.lit(1.0) - F.lit(_BM25_B)
            + F.lit(_BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
        )
        return idf * (tfi * F.lit(_BM25_K1 + 1.0)) / norm

    # fixed association (t0 + t1) + t2 — mirrored exactly by the SQL's
    # left-to-right "+" chain, so the float sum is order-identical
    raw = contrib(0)
    for i in range(1, len(_BM25_TERMS)):
        raw = raw + contrib(i)
    return (
        tf.crossJoin(F.broadcast(stats))
        .select("doc_id", round4(raw).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )
