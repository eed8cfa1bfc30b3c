"""LLM-data-pipeline operators, tranche 7: distributed BPE tokenizer
training.

q127 BPE pair-merge learning (Sennrich et al. 2016): the loop body every
subword tokenizer trainer runs — count weighted adjacent-symbol pairs over
the corpus vocabulary, pick the most frequent pair, MERGE it everywhere,
recount — expressed as pure relational plans with an exact DuckDB oracle.
Two learning steps are materialized: merge #1 from the initial character
pairs, and (after applying merge #1 exactly) the post-merge top-3
candidates, of which the top-1 is merge #2.

The hard part relationally is APPLYING a merge: greedy left-to-right,
non-overlapping — "a a a" under merge (a,a) becomes ["aa","a"], so a
naive "replace every matching pair" over-merges. Overlapping matches only
chain inside runs of consecutive match positions, and greedy keeps every
OTHER position within a run; runs are gaps-and-islands (position minus
match-rank is constant within a run), so the whole application is: flag
matches, island them with one window, keep even offsets, then re-derive
the merged symbol stream with a lead() — no sequential fold anywhere.

Scale shape (100 TB): everything after the word-count aggregation operates
on the corpus VOCABULARY (distinct words × word length rows), not the
corpus; windows partition by word (bounded by max word length); the
learned merge rides a 1-row broadcast. This is exactly how a cluster-scale
BPE trainer bounds its iteration cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load, register, round4, spread, sql_round4, sql_sha_int
from .text import _norm_text

# --- q127: BPE pair-merge learning ------------------------------------------

_BPE_TOPK = 3  # post-merge candidates reported (rank 1 = merge #2)

_Q127_ORACLE = f"""
WITH wc AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
    FROM documents WHERE text IS NOT NULL)
  WHERE tok <> ''
  GROUP BY tok
),
sym AS (  -- vocabulary exploded to (word, 0-based position, character)
  SELECT word, cnt, i AS pos, substring(word, CAST(i AS INTEGER) + 1, 1) AS s
  FROM wc, LATERAL unnest(range(length(word))) t(i)
),
nxt AS (
  SELECT word, cnt, pos, s,
         lead(s) OVER (PARTITION BY word ORDER BY pos) AS sn
  FROM sym
),
pc0 AS (
  SELECT s AS l, sn AS r, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM nxt WHERE sn IS NOT NULL GROUP BY s, sn
),
b1 AS (SELECT l, r, pair_count FROM pc0 ORDER BY pair_count DESC, l, r LIMIT 1),
m AS (  -- greedy non-overlapping application of merge #1 (islands trick)
  SELECT n.word, n.cnt, n.pos, n.s, n.sn,
         CASE WHEN n.s = b1.l AND n.sn = b1.r THEN 1 ELSE 0 END AS mt
  FROM nxt n, b1
),
isl AS (
  SELECT *,
         CASE WHEN mt = 1 THEN pos - sum(mt) OVER (
           PARTITION BY word ORDER BY pos ROWS UNBOUNDED PRECEDING) END AS grp
  FROM m
),
keepf AS (
  SELECT *,
         CASE WHEN mt = 1
              AND (pos - min(pos) OVER (PARTITION BY word, grp)) % 2 = 0
              THEN 1 ELSE 0 END AS kept
  FROM isl
),
stream AS (  -- merged symbol stream: drop the consumed right halves
  SELECT word, cnt, pos,
         CASE WHEN kept = 1 THEN s || sn ELSE s END AS s2,
         coalesce(lag(kept) OVER (PARTITION BY word ORDER BY pos), 0) AS absorbed
  FROM keepf
),
em AS (SELECT word, cnt, pos, s2 FROM stream WHERE absorbed = 0),
pc1 AS (
  SELECT s2 AS l, lead(s2) OVER (PARTITION BY word ORDER BY pos) AS r, cnt
  FROM em
),
agg1 AS (
  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM pc1 WHERE r IS NOT NULL GROUP BY l, r
),
top1 AS (
  SELECT 2 AS it, CAST(row_number() OVER (ORDER BY pair_count DESC, l, r) AS BIGINT) AS rk,
         l, r, pair_count
  FROM agg1 QUALIFY rk <= {_BPE_TOPK}
)
SELECT CAST(it AS BIGINT) AS it, rk, l AS left_sym, r AS right_sym,
       l || r AS merged, pair_count
FROM (SELECT 1 AS it, CAST(1 AS BIGINT) AS rk, l, r, pair_count FROM b1
      UNION ALL
      SELECT it, rk, l, r, pair_count FROM top1)
"""


@register(
    "q127_bpe_merges",
    _Q127_ORACLE,
    "BPE trainer loop body: learn merge, apply greedily (islands), recount",
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    wc = (
        spread(d.select(_norm_text().alias("t")))
        .select(F.explode_outer(F.split(F.col("t"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # vocabulary-sized from here on; two consumers downstream (pair counts
    # + merge application) — pin it
    wc = wc.localCheckpoint(eager=False)
    chars = F.transform(
        F.sequence(F.lit(0), F.length("word") - 1),
        lambda i: F.substring(F.col("word"), i + 1, F.lit(1)),
    )
    sym = wc.select("word", "cnt", F.posexplode_outer(chars).alias("pos", "s"))
    wpos = Window.partitionBy("word").orderBy("pos")
    nxt = sym.withColumn("sn", F.lead("s").over(wpos)).localCheckpoint(eager=False)
    pc0 = (
        nxt.filter(F.col("sn").isNotNull())
        .groupBy(F.col("s").alias("l"), F.col("sn").alias("r"))
        .agg(F.sum("cnt").alias("pair_count"))
    )
    b1 = pc0.orderBy(F.col("pair_count").desc(), "l", "r").limit(1)
    # greedy application of merge #1: islands of consecutive match
    # positions, keep even offsets within each island
    m = nxt.crossJoin(
        F.broadcast(
            b1.select(
                F.col("l").alias("_l"), F.col("r").alias("_r"),
                F.col("pair_count").alias("_bc"),
            )
        )
    ).withColumn(
        "mt",
        ((F.col("s") == F.col("_l")) & (F.col("sn") == F.col("_r"))).cast("int"),
    )
    run = F.sum("mt").over(wpos.rowsBetween(Window.unboundedPreceding, 0))
    isl = m.withColumn("grp", F.when(F.col("mt") == 1, F.col("pos") - run))
    wisl = Window.partitionBy("word", "grp")
    kept = (
        (F.col("mt") == 1)
        & ((F.col("pos") - F.min("pos").over(wisl)) % 2 == 0)
    ).cast("int")
    stream = isl.withColumn("kept", kept).select(
        "word",
        "cnt",
        "pos",
        F.when(F.col("kept") == 1, F.concat("s", "sn")).otherwise(F.col("s")).alias("s2"),
        F.coalesce(F.lag("kept").over(wpos), F.lit(0)).alias("absorbed"),
        "_bc",
        "_l",
        "_r",
    )
    em = stream.filter(F.col("absorbed") == 0)
    pc1 = (
        em.withColumn("r2", F.lead("s2").over(wpos))
        .filter(F.col("r2").isNotNull())
        .groupBy(F.col("s2").alias("l"), F.col("r2").alias("r"))
        .agg(F.sum("cnt").alias("pair_count"))
    )
    wtop = Window.orderBy(F.col("pair_count").desc(), "l", "r")
    top1 = (
        pc1.withColumn("rk", F.row_number().over(wtop).cast("long"))
        .filter(F.col("rk") <= _BPE_TOPK)
        .select(F.lit(2).cast("long").alias("it"), "rk", "l", "r", "pair_count")
    )
    first = b1.select(
        F.lit(1).cast("long").alias("it"),
        F.lit(1).cast("long").alias("rk"),
        "l",
        "r",
        "pair_count",
    )
    return first.unionByName(top1).select(
        "it",
        "rk",
        F.col("l").alias("left_sym"),
        F.col("r").alias("right_sym"),
        F.concat("l", "r").alias("merged"),
        "pair_count",
    )


# --- q128: point-in-time (temporal) join against the SCD2 dimension ---------
#
# The label-leakage-safe lookup every feature store / training-data build
# needs: join each fact to the dimension version that was valid AT THE
# FACT'S TIME, never a later one. The dimension is q117's SCD Type-2
# history ([valid_from, valid_to) intervals, open current row); facts are
# the events themselves looked up ONE HOUR BACK, so events near a run
# boundary resolve to the PREVIOUS version — the non-trivial case a naive
# latest-value join gets wrong.
#
# Plan shape: because SCD2 intervals are CONTIGUOUS per key (valid_to =
# next valid_from), "the version whose interval contains lookup_ts" is
# exactly "the latest valid_from <= lookup_ts" — a backward AS-OF join.
# The equality-join-plus-interval-filter form is quadratic per key
# (|facts_k| x |versions_k| pair evaluations): the round-7 100x planted-
# skew sweep measured it directly — a 20%-hot user (2M facts x ~1.6M
# versions ~ 3e12 pairs) turned the Spark side into an hour-long single
# straggler task and the DuckDB oracle had to be killed (docs/SCALING.md,
# round-7 section). operators.asof_join_bucketed bounds every stage by
# (key, time-bucket) instead — fanout is rows-per-bucket, never
# facts x versions — and DuckDB's native sort-based ASOF JOIN keeps the
# oracle linear-log. Zero-length intervals ([T, T), produced when several
# runs share a valid_from via equal-ts events) can never match the
# interval form, so both sides drop them up front; that also makes
# valid_from unique per key, which is what makes ASOF unambiguous.
# Left join keeps facts that predate their first interval (NULL attribute
# = "no feature available yet" — the honest answer).

from .pipeline5 import _Q117_ORACLE, q117  # noqa: E402

_Q128_ORACLE = f"""
WITH dim AS ({_Q117_ORACLE}),
dim2 AS (
  SELECT * FROM dim WHERE valid_to IS NULL OR valid_to > valid_from
),
f AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(ts AS TIMESTAMP) - INTERVAL 1 HOUR AS lookup_ts
  FROM events
)
SELECT f.event_id, f.user_id, f.ts,
       d.event_type AS attr_event_type, d.version, d.is_current
FROM f ASOF LEFT JOIN dim2 d
  ON f.user_id = d.user_id AND f.lookup_ts >= d.valid_from
"""


@register(
    "q128_pit_join",
    _Q128_ORACLE,
    "point-in-time join: facts to the SCD2 version valid at fact time (bucketed as-of)",
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandaspark.operators import asof_join_bucketed

    dim = (
        q117(spark, sf_dir)
        # zero-length intervals can never contain a lookup_ts; dropping
        # them leaves valid_from unique per user (contiguity), the
        # precondition both as-of forms share
        .filter(F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from")))
        .select(
            "user_id",
            F.col("event_type").alias("attr_event_type"),
            "valid_from",
            "version",
            "is_current",
        )
    )
    f = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("lookup_ts"),
    )
    joined = asof_join_bucketed(
        f,
        dim,
        left_on="user_id",
        right_on="user_id",
        left_time="lookup_ts",
        right_time="valid_from",
        tiebreak=["version"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "attr_event_type",
        "version",
        "is_current",
    )


# --- q129: deterministic negative sampling for contrastive training ---------
#
# Every contrastive/embedding training run needs negatives per anchor, and
# at pipeline scale they must be REPRODUCIBLE (same corpus -> same pairs,
# no RNG state to ship) and CHEAP (never a similarity scan). Standard
# recipe: hash-derived pseudo-random candidates, resolved against the
# corpus, filtered to cross-label, first k kept. Candidates are drawn in
# RANK space (dense 1..N via the pinned two-phase ranking), not raw id
# space — id spaces with holes (the 5x synthetic's key-offset copies, any
# real corpus after dedup) would otherwise drop most candidates. Per
# anchor: 24 hash candidates -> dedup -> resolve -> drop same-label and
# self -> first 5 by draw order. One broadcast of the rank map's join leg,
# windows bounded by the candidate count.

_NS_ANCHORS = 20  # the 20 lowest-ranked vectors are the anchors
_NS_DRAWS = 24
_NS_K = 5

_Q129_ORACLE = f"""
WITH r AS (
  SELECT vec_id, label, row_number() OVER (ORDER BY vec_id) AS rk FROM embeddings
),
n AS (SELECT count(*) AS c FROM embeddings),
a AS (SELECT vec_id AS av, label AS al, rk AS ark FROM r WHERE rk <= {_NS_ANCHORS}),
c0 AS (
  SELECT av, al, ark, t.i,
         {sql_sha_int("concat('neg|', CAST(av AS VARCHAR), '|', CAST(t.i AS VARCHAR))")}
           % c + 1 AS crk
  FROM a, n, range({_NS_DRAWS}) t(i)
),
c1 AS (SELECT av, al, ark, crk, min(i) AS i FROM c0 GROUP BY av, al, ark, crk),
j AS (
  SELECT c1.av, c1.al, c1.i, r.vec_id AS nv, r.label AS nl
  FROM c1 JOIN r ON r.rk = c1.crk
  WHERE r.label <> c1.al AND c1.crk <> c1.ark
)
SELECT av AS anchor_id, CAST(al AS BIGINT) AS anchor_label,
       nv AS negative_id, CAST(nl AS BIGINT) AS negative_label,
       CAST(slot AS BIGINT) AS slot
FROM (
  SELECT av, al, nv, nl,
         row_number() OVER (PARTITION BY av ORDER BY i) AS slot
  FROM j)
WHERE slot <= {_NS_K}
"""


@register(
    "q129_negative_sampling",
    _Q129_ORACLE,
    "reproducible cross-label negative sampling in dense rank space",
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandaspark.operators import sequential_ids

    from . import sha_int

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    # dense 1..N ranking over vec_id (two-phase, layout-pinned); feeds the
    # anchor filter AND the candidate-resolution join
    r = sequential_ids(e, ["vec_id"], alias="rk").localCheckpoint(eager=False)
    n = e.agg(F.count(F.lit(1)).alias("c"))
    a = r.filter(F.col("rk") <= _NS_ANCHORS).select(
        F.col("vec_id").alias("av"), F.col("label").alias("al"), F.col("rk").alias("ark")
    )
    draws = F.explode(F.sequence(F.lit(0), F.lit(_NS_DRAWS - 1))).alias("i")
    c0 = (
        a.crossJoin(F.broadcast(n))
        .select("av", "al", "ark", "c", draws)
        .select(
            "av",
            "al",
            "ark",
            "i",
            (
                sha_int(
                    F.concat(
                        F.lit("neg|"),
                        F.col("av").cast("string"),
                        F.lit("|"),
                        F.col("i").cast("string"),
                    )
                )
                % F.col("c")
                + 1
            ).alias("crk"),
        )
    )
    c1 = c0.groupBy("av", "al", "ark", "crk").agg(F.min("i").alias("i"))
    j = (
        c1.join(
            r.select(F.col("rk").alias("crk"), F.col("vec_id").alias("nv"), F.col("label").alias("nl")),
            "crk",
        )
        .filter((F.col("nl") != F.col("al")) & (F.col("crk") != F.col("ark")))
    )
    wslot = Window.partitionBy("av").orderBy("i")
    return (
        j.withColumn("slot", F.row_number().over(wslot).cast("long"))
        .filter(F.col("slot") <= _NS_K)
        .select(
            F.col("av").alias("anchor_id"),
            F.col("al").cast("long").alias("anchor_label"),
            F.col("nv").alias("negative_id"),
            F.col("nl").cast("long").alias("negative_label"),
            "slot",
        )
    )


# --- q130: curriculum training manifest --------------------------------------
#
# Curriculum learning's data artifact: an epoch-ordered manifest where easy
# documents (high corpus-LM bigram coverage, q114's exact novelty score)
# come first, hardness is bucketed into difficulty bins, and order WITHIN a
# bin is a deterministic hash shuffle (reproducible epochs, no RNG state).
# Composes three engine capabilities end-to-end: LM scoring (q114), exact
# integer binning over a two-phase global ranking (q88's no-global-window
# machinery), and keyed-hash shuffling (q67/q78's idiom). Both global
# orderings run through operators.sequential_ids — range-partitioned,
# layout-pinned, no single-partition window over the corpus.

_CUR_BINS = 4

_Q130_ORACLE = f"""
WITH sc AS ({{q114}}),
r AS (
  SELECT doc_id, lang,
         CAST(n_known AS DOUBLE) / n_bigrams AS cov,
         row_number() OVER (
           ORDER BY CAST(n_known AS DOUBLE) / n_bigrams DESC, doc_id) AS rk,
         count(*) OVER () AS n
  FROM sc
),
b AS (
  SELECT doc_id, lang, cov,
         CAST((rk - 1) * {_CUR_BINS} // n + 1 AS BIGINT) AS difficulty_bin,
         {sql_sha_int("concat('cur|', CAST(doc_id AS VARCHAR))")} AS h
  FROM r
)
SELECT doc_id, lang,
       {sql_round4('cov')} AS coverage,
       difficulty_bin,
       CAST(row_number() OVER (ORDER BY difficulty_bin, h, doc_id) AS BIGINT)
         AS epoch_pos
FROM b
"""


@register(
    "q130_curriculum",
    None,  # oracle bound below (needs q114's SQL inlined)
    "curriculum manifest: LM-difficulty bins + deterministic epoch order",
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandaspark.operators import sequential_ids

    from . import sha_int
    from .pipeline4 import q114

    sc = q114(spark, sf_dir).select(
        "doc_id",
        "lang",
        (F.col("n_known").cast("double") / F.col("n_bigrams")).alias("cov"),
    )
    # easy-first global rank (coverage desc) through the two-phase ranking;
    # the total count rides along from the ranking's own offsets frame
    # (total_alias), so no separate count job / crossJoin is needed
    r = sequential_ids(
        sc.withColumn("negcov", -F.col("cov")),
        ["negcov", "doc_id"],
        alias="rk",
        total_alias="n",
    )
    b = (
        r.select(
            "doc_id",
            "lang",
            "cov",
            (F.floor((F.col("rk") - 1) * _CUR_BINS / F.col("n")) + 1)
            .cast("long")
            .alias("difficulty_bin"),
            sha_int(F.concat(F.lit("cur|"), F.col("doc_id").cast("string"))).alias("h"),
        )
    )
    out = sequential_ids(b, ["difficulty_bin", "h", "doc_id"], alias="epoch_pos")
    return out.select(
        "doc_id",
        "lang",
        round4(F.col("cov")).alias("coverage"),
        "difficulty_bin",
        F.col("epoch_pos").cast("long").alias("epoch_pos"),
    )


# bind the oracle now that the template references q114's SQL
from .pipeline4 import _Q114_ORACLE as _q114_sql  # noqa: E402

from . import REGISTRY, QuerySpec  # noqa: E402

REGISTRY["q130_curriculum"] = QuerySpec(
    fn=REGISTRY["q130_curriculum"].fn,
    oracle=_Q130_ORACLE.replace("{q114}", _q114_sql),
    doc=REGISTRY["q130_curriculum"].doc,
)


# --- q131: hybrid retrieval via reciprocal-rank fusion -----------------------
#
# The hybrid-search step every RAG/retrieval stack runs: fuse a lexical
# ranking (q103's BM25 top-20) with a semantic ranking (q40's cosine
# top-k for query vector 0) by reciprocal-rank fusion
# (Cormack/Clarke/Buettcher 2009): score = sum over lists of 1/(60+rank),
# absent = 0. RRF needs no score calibration between the two systems —
# only ranks — which is what makes it the default fusion everywhere.
# Both input rankings are list-sized (bounded by their top-k), so every
# stage below the two retrievals is driver-trivial at any corpus scale;
# the heavy lifting stays inside q103's one-pass scan and q40's
# broadcast-join, both already scale-shaped.

_RRF_K = 60

_Q131_ORACLE_TMPL = f"""
WITH bm AS ({{q103}}),
bmr AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rb FROM bm
),
cos AS (SELECT vec_id AS doc_id, rk AS rc FROM ({{q40}}) WHERE qid = 0),
f AS (
  SELECT coalesce(bmr.doc_id, cos.doc_id) AS doc_id, rb, rc,
         coalesce(1.0 / ({_RRF_K} + rb), 0.0)
           + coalesce(1.0 / ({_RRF_K} + rc), 0.0) AS s
  FROM bmr FULL JOIN cos ON bmr.doc_id = cos.doc_id
)
SELECT doc_id, CAST(rb AS BIGINT) AS bm25_rank, CAST(rc AS BIGINT) AS cosine_rank,
       {sql_round4('s')} AS rrf
FROM f ORDER BY s DESC, doc_id LIMIT 20
"""


@register(
    "q131_hybrid_rrf",
    None,  # oracle bound below (inlines q103's and q40's SQL)
    "hybrid search: reciprocal-rank fusion of BM25 and cosine rankings",
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline3 import q103
    from .similarity import q40

    bm = q103(spark, sf_dir)
    # 20-row frame (GlobalLimit upstream) — the partition-less window is
    # bounded by construction, which the registry plan gate verifies
    wb = Window.orderBy(F.col("bm25").desc(), "doc_id")
    bmr = bm.select("doc_id", F.row_number().over(wb).alias("rb"))
    cos = (
        q40(spark, sf_dir)
        .filter(F.col("qid") == 0)
        .select(F.col("vec_id").alias("doc_id"), F.col("rk").alias("rc"))
    )
    zero = F.lit(0.0)
    s = F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rb")), zero) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("rc")), zero
    )
    return (
        bmr.join(cos, "doc_id", "full")
        .select("doc_id", "rb", "rc", s.alias("_s"))
        .orderBy(F.col("_s").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            F.col("rb").cast("long").alias("bm25_rank"),
            F.col("rc").cast("long").alias("cosine_rank"),
            round4(F.col("_s")).alias("rrf"),
        )
    )


from .pipeline3 import _Q103_ORACLE as _q103_sql  # noqa: E402
from .similarity import _Q40_ORACLE as _q40_sql  # noqa: E402

REGISTRY["q131_hybrid_rrf"] = QuerySpec(
    fn=REGISTRY["q131_hybrid_rrf"].fn,
    oracle=_Q131_ORACLE_TMPL.replace("{q103}", _q103_sql).replace("{q40}", _q40_sql),
    doc=REGISTRY["q131_hybrid_rrf"].doc,
)


# --- q132: session co-occurrence lift mining ---------------------------------
#
# The association-mining staple behind "users who did A also did B":
# sessionize the event stream (30-minute inactivity gaps, gaps-and-islands
# per user), collect each session's DISTINCT event types, count pair
# co-occurrence across sessions, and rank pairs by LIFT
# = P(ab) / (P(a) P(b)) = c_ab * n_sessions / (c_a * c_b). Lift is kept
# as one exact-integer product ratio (all terms < 2^53, one IEEE divide)
# instead of log-PMI — log() diverges across libm implementations, a
# ratio never does. Per-user windows; pair join keyed by (user, session),
# fanout bounded by the per-session distinct-type count.

_SC_GAP_MIN = 30
_SC_MIN_SUPPORT = 5
_SC_TOPK = 20

_Q132_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type IS NOT NULL
),
g AS (
  SELECT user_id, event_type, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL {_SC_GAP_MIN} MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS brk,
         event_id
  FROM ev
),
s AS (
  SELECT user_id, event_type,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
st AS (SELECT DISTINCT user_id, sid, event_type FROM s),
n AS (SELECT count(DISTINCT (user_id, sid)) AS n_sessions FROM st),
ca AS (SELECT event_type, count(*) AS c FROM st GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS c_ab
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.sid = b.sid AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, CAST(c_ab AS BIGINT) AS c_ab,
       CAST(x.c AS BIGINT) AS c_a, CAST(y.c AS BIGINT) AS c_b,
       CAST(n_sessions AS BIGINT) AS n_sessions,
       {sql_round4("CAST(c_ab * n_sessions AS DOUBLE) / (x.c * y.c)")} AS lift
FROM pairs JOIN ca x ON x.event_type = type_a
           JOIN ca y ON y.event_type = type_b, n
WHERE c_ab >= {_SC_MIN_SUPPORT}
ORDER BY CAST(c_ab * n_sessions AS DOUBLE) / (x.c * y.c) DESC, type_a, type_b
LIMIT {_SC_TOPK}
"""


@register(
    "q132_session_cooccurrence",
    _Q132_ORACLE,
    "sessionized co-occurrence pairs ranked by exact-integer lift",
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("user_id", "event_id", "event_type", "ts")
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(wu)
    brk = (
        prev.isNull()
        | (F.col("ts").cast("long") - prev.cast("long") > _SC_GAP_MIN * 60)
    ).cast("long")
    s = ev.withColumn("brk", brk).withColumn(
        "sid", F.sum("brk").over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    st = s.select("user_id", "sid", "event_type").distinct().localCheckpoint(eager=False)
    n = st.select("user_id", "sid").distinct().agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    ca = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a, b = st.alias("a"), st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _SC_MIN_SUPPORT)
    )
    lift = (F.col("c_ab") * F.col("n_sessions")).cast("double") / (
        F.col("c_a") * F.col("c_b")
    )
    return (
        pairs.join(
            F.broadcast(ca.select(F.col("event_type").alias("type_a"), F.col("c").alias("c_a"))),
            "type_a",
        )
        .join(
            F.broadcast(ca.select(F.col("event_type").alias("type_b"), F.col("c").alias("c_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n))
        .select("type_a", "type_b", "c_ab", "c_a", "c_b", "n_sessions", lift.alias("_l"))
        .orderBy(F.col("_l").desc(), "type_a", "type_b")
        .limit(_SC_TOPK)
        .select(
            "type_a", "type_b", "c_ab", "c_a", "c_b", "n_sessions",
            round4(F.col("_l")).alias("lift"),
        )
    )


# --- q133: greedy max-coverage data selection (submodular curation) ----------
#
# The data-curation selection step (facility-location / max-coverage
# greedy, the standard submodular recipe): repeatedly pick the document
# whose 3-gram set covers the most NOT-YET-COVERED grams. Greedy gives the
# classic (1 - 1/e) coverage guarantee; three unrolled rounds are
# materialized (the loop body is what matters — more rounds = the same
# plan repeated). Each round is: anti-join the gram table against the
# covered set (shuffles keyed on the gram), one hash aggregate for gains,
# a 1-row TakeOrdered pick broadcast into the next round. No driver
# collect, no per-round growth in plan input — covered sets are
# gram-table-bounded.

_Q133_ORACLE = """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(w[i+1:i+3], ' ')
                 FOR i IN range(greatest(len(w) - 2, 1))]) AS tok
  FROM n
),
s1 AS (SELECT doc_id, count(*) AS gain FROM g GROUP BY doc_id
       ORDER BY gain DESC, doc_id LIMIT 1),
c1 AS (SELECT DISTINCT tok FROM g WHERE doc_id IN (SELECT doc_id FROM s1)),
s2 AS (SELECT doc_id, count(*) AS gain FROM g
       WHERE tok NOT IN (SELECT tok FROM c1)
         AND doc_id NOT IN (SELECT doc_id FROM s1)
       GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
c2 AS (SELECT DISTINCT tok FROM g
       WHERE doc_id IN (SELECT doc_id FROM s1 UNION SELECT doc_id FROM s2)),
s3 AS (SELECT doc_id, count(*) AS gain FROM g
       WHERE tok NOT IN (SELECT tok FROM c2)
         AND doc_id NOT IN (SELECT doc_id FROM s1 UNION SELECT doc_id FROM s2)
       GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
c3 AS (SELECT DISTINCT tok FROM g
       WHERE doc_id IN (SELECT doc_id FROM s1 UNION SELECT doc_id FROM s2
                        UNION SELECT doc_id FROM s3))
SELECT CAST(1 AS BIGINT) AS step, doc_id, CAST(gain AS BIGINT) AS gain,
       CAST((SELECT count(*) FROM c1) AS BIGINT) AS covered_total FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), doc_id, CAST(gain AS BIGINT),
       CAST((SELECT count(*) FROM c2) AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS BIGINT), doc_id, CAST(gain AS BIGINT),
       CAST((SELECT count(*) FROM c3) AS BIGINT) FROM s3
"""


@register(
    "q133_greedy_coverage",
    _Q133_ORACLE,
    "greedy max-coverage selection: 3 rounds of anti-join + gain argmax",
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.col("w")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - 2, F.lit(1)) - 1),
            lambda i: F.array_join(F.slice(w, i + 1, 3), " "),
        )
    )
    # every round reads the same (doc, gram) table: pin one materialization
    g = (
        spread(d.select("doc_id", F.split(_norm_text(), " ").alias("w")))
        .select("doc_id", F.explode_outer(grams).alias("tok"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def pick(cand: DataFrame, step: int) -> DataFrame:
        return (
            cand.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.col("gain").desc(), "doc_id")
            .limit(1)
            .select(F.lit(step).cast("long").alias("step"), "doc_id", "gain")
        )

    def covered(sel: DataFrame) -> DataFrame:
        return (
            g.join(sel.select("doc_id"), "doc_id", "left_semi")
            .select("tok")
            .distinct()
        )

    s1 = pick(g, 1).localCheckpoint(eager=False)
    c1 = covered(s1).localCheckpoint(eager=False)
    g2 = g.join(c1, "tok", "left_anti").join(s1.select("doc_id"), "doc_id", "left_anti")
    s2 = pick(g2, 2).localCheckpoint(eager=False)
    sel12 = s1.unionByName(s2)
    c2 = covered(sel12).localCheckpoint(eager=False)
    g3 = g.join(c2, "tok", "left_anti").join(
        sel12.select("doc_id"), "doc_id", "left_anti"
    )
    s3 = pick(g3, 3).localCheckpoint(eager=False)
    c3 = covered(s1.unionByName(s2).unionByName(s3))

    def with_cov(s: DataFrame, c: DataFrame) -> DataFrame:
        return s.crossJoin(
            F.broadcast(c.agg(F.count(F.lit(1)).alias("covered_total")))
        )

    return (
        with_cov(s1, c1)
        .unionByName(with_cov(s2, c2))
        .unionByName(with_cov(s3, c3))
        .select("step", "doc_id", "gain", "covered_total")
    )
