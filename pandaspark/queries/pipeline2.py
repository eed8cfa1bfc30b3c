"""Round-4 training-data pipeline operators (SURVEY.md §2.11 extensions):
sequence packing, rare-token quality scoring, time-series gap-fill/resample,
quality-gate funnel accounting, train/val/test manifest splits, and
incremental (cross-batch) dedup.

These are beyond-reference capabilities (the reference is a single-table
banking engine — SURVEY.md §2.11 mandates the LLM-pipeline surface). Same
cross-engine determinism conventions as the rest of the registry: integer
cross-multiplication instead of float ratios wherever a threshold decides a
row's fate, round4() for reported ratios, exact integer cents/token sums,
every computed column aliased identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load, register, round4, sha_int, spread, sql_round4, sql_sha_int
from .text import _char_shingles, _norm_text


# --- q74: token-budget sequence packing -------------------------------------
#
# The pre-training sharding step: documents are concatenated in a
# deterministic order (per language, by doc_id) and split into training
# sequences of ~B tokens. A doc belongs to the sequence where its first
# token lands: seq_id = exclusive-prefix-sum(tokens) div B — the
# concatenate-then-chunk semantics every LLM data loader uses. The prefix
# sum is a per-language window; at 100 TB the production form is
# the running total of operators.ranked_running_total (range partitions
# + broadcast prefix offsets, exact-equal by test) — the registered query
# keeps the window form, whose partition key (lang) matches the report's
# grouping key.

_PACK_BUDGET = 2048

_Q74_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
packed AS (
  SELECT lang, n_tokens,
         coalesce(CAST(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
           CAST(0 AS BIGINT)) AS prev_tokens
  FROM toks
)
SELECT lang, prev_tokens // {_PACK_BUDGET} AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
FROM packed
GROUP BY lang, prev_tokens // {_PACK_BUDGET}
"""


@register("q74_sequence_packing", _Q74_ORACLE, "token-budget greedy sequence packing manifest")
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "doc_id", "lang", F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.select(
        "lang",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")).alias("prev_tokens"),
    )
    return (
        packed.withColumn("seq_id", F.expr(f"prev_tokens div {_PACK_BUDGET}"))
        .groupBy("lang", "seq_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("seq_tokens"))
    )


# --- q75: rare-token quality scoring ----------------------------------------
#
# A corpus-statistics quality filter (the integer-exact stand-in for
# unigram-LM perplexity, which would hash-drift on libm log()): the
# fraction of a document's token OCCURRENCES whose corpus-wide frequency is
# <= _RARE_MAX. High ratio = gibberish/OCR noise/ID-dense text. Two hash
# aggregations (term counts are tiny relative to the corpus) + one join
# keyed on term — the canonical two-pass corpus-statistics plan; nothing
# all-pairs, nothing driver-side.

_RARE_MAX = 2

_Q75_ORACLE = f"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents WHERE text IS NOT NULL
),
w2 AS (SELECT * FROM words WHERE term != ''),
gc AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM w2 GROUP BY term),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN cnt <= {_RARE_MAX} THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
  FROM w2 JOIN gc USING (term) GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_rare,
       {sql_round4('CAST(n_rare AS DOUBLE) / CAST(n_tokens AS DOUBLE)')} AS rare_ratio
FROM per_doc
ORDER BY rare_ratio DESC, doc_id
LIMIT 100
"""


@register("q75_rare_token_score", _Q75_ORACLE, "rare-token fraction quality score, top-100")
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents").filter(F.col("text").isNotNull()))
    words = d.select("doc_id", F.explode_outer(F.split(_norm_text(), " ")).alias("term")).filter(
        F.col("term") != ""
    )
    gc = words.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        words.join(gc, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("cnt") <= _RARE_MAX, 1).otherwise(0)).alias("n_rare"),
        )
    )
    ratio = round4(F.col("n_rare").cast("double") / F.col("n_tokens").cast("double"))
    return (
        per_doc.withColumn("rare_ratio", ratio)
        .orderBy(F.col("rare_ratio").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "n_tokens", "n_rare", "rare_ratio")
    )


# --- q76: time-series gap-fill / hourly resample ----------------------------
#
# Feature-pipeline resampling: per user, a dense hourly time axis from the
# user's first to last event (sequence + explode), left-joined against the
# hourly exact-cents totals, gaps zero-filled. The generated axis is
# bounded per key (driver data: ~710 hours over a 30-day span), so the
# explode's fanout is span-bounded, not event-bounded; the join key
# (user_id, hour) is the aggregation key — one shuffle serves both sides.

_Q76_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE user_id < 5
),
bounds AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM e GROUP BY user_id
),
hours AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds
),
sums AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM e GROUP BY user_id, date_trunc('hour', ts)
)
SELECT h.user_id, h.hour,
       coalesce(s.cents, CAST(0 AS BIGINT)) / 100.0 AS hourly_sum
FROM hours h LEFT JOIN sums s USING (user_id, hour)
"""


@register("q76_hourly_gapfill", _Q76_ORACLE, "dense hourly resample with zero-filled gaps")
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 5).select("user_id", "ts", "value")
    bounds = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        "user_id", F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour")
    )
    sums = (
        e.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    return hours.join(sums, ["user_id", "hour"], "left").select(
        "user_id",
        "hour",
        (F.coalesce(F.col("cents"), F.lit(0).cast("long")) / F.lit(100.0)).alias("hourly_sum"),
    )


# --- q77: quality-gate funnel report ----------------------------------------
#
# The accounting report every filtering pipeline publishes: how many
# documents survive each cumulative quality gate (length → token count →
# repetition → language whitelist). All gates evaluate in ONE scan pass
# (the repetition gate reuses q70's per-row shingle arrays; its threshold
# is the integer cross-multiplication d*10 > n*7, no float compare), and
# the output is a fixed five-row funnel — aggregate-only, no shuffle wider
# than the single agg row.

_Q77_ORACLE = """
WITH g AS (
  SELECT length(text) >= 100 AS c1,
         length(regexp_extract_all(text, '\\S+')) >= 20 AS c2,
         len(list_distinct(s)) * 10 > len(s) * 7 AS c3,
         lang IN ('en', 'de', 'fr') AS c4
  FROM (
    SELECT lang, text,
           [substring(t, i, 5) FOR i IN range(1, greatest(length(t) - 4, 1) + 1)] AS s
    FROM (SELECT lang, text, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
          FROM documents WHERE text IS NOT NULL)
  )
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN c1 AND c2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN c1 AND c2 AND c3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN c1 AND c2 AND c3 AND c4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM g
)
SELECT CAST(0 AS BIGINT) AS stage_idx, 'scanned' AS stage, n0 AS n_pass FROM agg
UNION ALL SELECT 1, 'min_length', n1 FROM agg
UNION ALL SELECT 2, 'min_tokens', n2 FROM agg
UNION ALL SELECT 3, 'low_repetition', n3 FROM agg
UNION ALL SELECT 4, 'lang_whitelist', n4 FROM agg
"""


@register("q77_quality_funnel", _Q77_ORACLE, "cumulative quality-gate survival funnel")
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents").filter(F.col("text").isNotNull()))
    shingles = F.expr(
        "transform(sequence(1, greatest(length(t) - 4, 1)), i -> substring(t, i, 5))"
    )
    g = d.select("lang", "text", _norm_text().alias("t")).select(
        (F.length("text") >= 100).alias("c1"),
        (F.regexp_count("text", F.lit(r"\S+")) >= 20).alias("c2"),
        (F.size(F.array_distinct(shingles)) * 10 > F.size(shingles) * 7).alias("c3"),
        F.col("lang").isin("en", "de", "fr").alias("c4"),
    )
    one = F.lit(1)
    zero = F.lit(0)
    agg = g.agg(
        F.count(one).alias("n0"),
        F.sum(F.when(F.col("c1"), one).otherwise(zero)).alias("n1"),
        F.sum(F.when(F.col("c1") & F.col("c2"), one).otherwise(zero)).alias("n2"),
        F.sum(F.when(F.col("c1") & F.col("c2") & F.col("c3"), one).otherwise(zero)).alias("n3"),
        F.sum(
            F.when(F.col("c1") & F.col("c2") & F.col("c3") & F.col("c4"), one).otherwise(zero)
        ).alias("n4"),
    )
    return agg.select(
        F.expr(
            "stack(5,"
            " CAST(0 AS BIGINT), 'scanned', n0,"
            " CAST(1 AS BIGINT), 'min_length', n1,"
            " CAST(2 AS BIGINT), 'min_tokens', n2,"
            " CAST(3 AS BIGINT), 'low_repetition', n3,"
            " CAST(4 AS BIGINT), 'lang_whitelist', n4) AS (stage_idx, stage, n_pass)"
        )
    )


# --- q78: train/val/test manifest split -------------------------------------
#
# Deterministic 80/10/10 split by salted content-independent hash — stable
# across runs, partitionings, and cluster sizes, and independent of q67's
# md5 sample and q71's mixture hash (different salt). Map-only pass + one
# tiny aggregate: the manifest table (lang x split) is what the training
# job consumes.

_Q78_ORACLE = f"""
WITH b AS (
  SELECT lang,
         CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
         {sql_sha_int("concat('split|', CAST(doc_id AS VARCHAR))")} % 10000 AS bucket
  FROM documents WHERE text IS NOT NULL
)
SELECT lang,
       CASE WHEN bucket < 8000 THEN 'train' WHEN bucket < 9000 THEN 'val' ELSE 'test' END
         AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM b
GROUP BY lang, CASE WHEN bucket < 8000 THEN 'train' WHEN bucket < 9000 THEN 'val' ELSE 'test' END
"""


@register("q78_split_manifest", _Q78_ORACLE, "deterministic 80/10/10 train/val/test manifest")
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bucket = sha_int(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 10000
    split = (
        F.when(bucket < 8000, "train").when(bucket < 9000, "val").otherwise("test")
    )
    return (
        d.select(
            "lang",
            F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("n_tokens"),
            split.alias("split"),
        )
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
    )


# --- q79: incremental (cross-batch) dedup -----------------------------------
#
# The steady-state ingest shape: a new batch (doc_id % 3 == 0 stands in for
# "today's crawl") is deduplicated against the existing corpus by
# normalized content hash — a left-semi join on a 32-byte key counts the
# collisions, an arithmetic difference yields the keep counts. At 100 TB
# both sides shuffle on the hash (no broadcast: the "existing" side is the
# full corpus); this is exactly the incremental form of q30's full-corpus
# dedup, and the semantic twin of the reference's fingerprint upsert
# (panda.py:713-728 — new rows land only if their natural-key hash is
# unseen).

_Q79_ORACLE = """
WITH h AS (
  SELECT doc_id, lang,
         sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
  FROM documents WHERE text IS NOT NULL
),
old AS (SELECT DISTINCT h FROM h WHERE doc_id % 3 != 0),
new AS (SELECT * FROM h WHERE doc_id % 3 = 0),
dup AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_dup
  FROM new WHERE h IN (SELECT h FROM old) GROUP BY lang
),
tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_new FROM new GROUP BY lang)
SELECT t.lang, t.n_new,
       coalesce(d.n_dup, CAST(0 AS BIGINT)) AS n_dup,
       t.n_new - coalesce(d.n_dup, CAST(0 AS BIGINT)) AS n_kept
FROM tot t LEFT JOIN dup d USING (lang)
"""


@register("q79_incremental_dedup", _Q79_ORACLE, "new-batch dedup against existing corpus hashes")
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h = d.select("doc_id", "lang", F.sha2(_norm_text(), 256).alias("h"))
    old = h.filter(F.col("doc_id") % 3 != 0).select("h").distinct()
    new = h.filter(F.col("doc_id") % 3 == 0)
    dup = new.join(old, "h", "left_semi").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_dup")
    )
    tot = new.groupBy("lang").agg(F.count(F.lit(1)).alias("n_new"))
    zero = F.lit(0).cast("long")
    return tot.join(dup, "lang", "left").select(
        "lang",
        "n_new",
        F.coalesce(F.col("n_dup"), zero).alias("n_dup"),
        (F.col("n_new") - F.coalesce(F.col("n_dup"), zero)).alias("n_kept"),
    )


# --- q81: per-user anomaly detection (exact 3-sigma, no sqrt) ---------------
#
# Outlier flagging for event streams: an event is anomalous when
# |x - mean| > 3*stddev within its user's history. Both sides are squared
# and cross-multiplied into pure BIGINT arithmetic over exact cents —
# (n*x - S)^2 > 9*(n*S2 - S^2) — so no sqrt, no float variance, no
# engine-dependent summation order; magnitudes stay under 2^63 for any
# realistic per-user history (n ~ 1e5, cents ~ 1e6 => terms ~ 1e22 would
# overflow — the guard below keeps the op honest if data outgrows it).
# Plan: one scan -> per-user aggregate (tiny) -> broadcast join back ->
# filter. The aggregate and the join share the user_id key.

_Q81_ORACLE = """
WITH c AS (
  SELECT user_id, event_id, value,
         CAST(round(value * 100) AS BIGINT) AS x
  FROM events
),
s AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s1,
         CAST(sum(x * x) AS BIGINT) AS s2
  FROM c GROUP BY user_id
)
SELECT c.user_id, c.event_id, c.value
FROM c JOIN s USING (user_id)
WHERE (s.n * c.x - s.s1) * (s.n * c.x - s.s1) > 9 * (s.n * s.s2 - s.s1 * s.s1)
"""


@register("q81_anomaly_events", _Q81_ORACLE, "exact integer 3-sigma outlier events per user")
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "event_id", "value")
    x = F.round(F.col("value") * 100).cast("long")
    c = e.select("user_id", "event_id", "value", x.alias("x"))
    s = c.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    j = c.join(F.broadcast(s), "user_id")
    dev = F.col("n") * F.col("x") - F.col("s1")
    # (n*x - S1)^2 > 9 * (n*S2 - S1^2): |x - mean| > 3*stddev, exactly
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    return j.filter(dev * dev > 9 * var_n2).select("user_id", "event_id", "value")


# --- q82: char-trigram language classifier (train/test + confusion matrix) --
#
# A real language-ID model (vs q32's stopword heuristic), built and
# evaluated inside the engine: per-language character-trigram profiles
# (top-40 by document frequency) learned from a deterministic train split
# (doc_id % 5 != 0), held-out docs classified by profile-overlap count
# (argmax score, ties to the lexicographically first language), reported
# as a confusion matrix. Everything is exact integer counting — no tf-idf
# floats — so the whole train->classify->evaluate loop is value-hash
# checkable cross-engine. Plan at 100 TB: trigram explode -> (lang, gram)
# hash-agg; the learned profile is tiny (langs x 40) and BROADCASTS onto
# the test scan — the classic learn-small/apply-wide shape.

_PROF_K = 40
_TEST_MOD = 5

_Q82_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, lang,
         unnest(list_distinct([substring(t, i, 3)
                FOR i IN range(1, greatest(length(t) - 2, 1) + 1)])) AS g
  FROM norm
),
prof AS (
  SELECT lang, g FROM (
    SELECT lang, g,
           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rk
    FROM grams WHERE doc_id % {_TEST_MOD} != 0 GROUP BY lang, g)
  WHERE rk <= {_PROF_K}
),
scores AS (
  SELECT tg.doc_id, p.lang AS cand, CAST(count(*) AS BIGINT) AS score
  FROM (SELECT doc_id, g FROM grams WHERE doc_id % {_TEST_MOD} = 0) tg
  JOIN prof p ON p.g = tg.g
  GROUP BY tg.doc_id, p.lang
),
pred AS (
  SELECT doc_id, cand AS pred_lang FROM (
    SELECT doc_id, cand,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rk
    FROM scores) WHERE rk = 1
)
SELECT n.lang AS true_lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred p JOIN norm n USING (doc_id)
GROUP BY n.lang, p.pred_lang
"""


@register("q82_lang_classifier", _Q82_ORACLE, "trigram-profile lang-ID with confusion matrix")
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents").filter(F.col("text").isNotNull()))
    trigrams = F.array_distinct(_char_shingles(F.col("t"), 3))
    grams = d.select("doc_id", "lang", _norm_text().alias("t")).select(
        "doc_id", "lang", F.explode_outer(trigrams).alias("g")
    )
    train_df = (
        grams.filter(F.col("doc_id") % _TEST_MOD != 0)
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w_prof = Window.partitionBy("lang").orderBy(F.col("df").desc(), "g")
    prof = (
        train_df.withColumn("rk", F.row_number().over(w_prof))
        .filter(F.col("rk") <= _PROF_K)
        .select("lang", "g")
    )
    scores = (
        grams.filter(F.col("doc_id") % _TEST_MOD == 0)
        .select("doc_id", "g")
        .join(F.broadcast(prof), "g")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("score"))
        .withColumnRenamed("lang", "cand")
    )
    w_pred = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cand")
    pred = (
        scores.withColumn("rk", F.row_number().over(w_pred))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("cand").alias("pred_lang"))
    )
    truth = d.select("doc_id", F.col("lang").alias("true_lang"))
    return (
        pred.join(truth, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
