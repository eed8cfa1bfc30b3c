"""LLM-data-pipeline operators, tranche 5: semantic dedup, model-based
quality filtering, dimension history, prefix-filtered similarity join, and
privacy-preserving pseudonymization.

q115 SemDeDup: the cluster-then-compare semantic near-dedup recipe
(Abbas et al. 2023): assign every embedding to its nearest of K fixed
centroids, then compute pairwise cosine ONLY within each cluster and drop
any vector that has a sufficiently-similar lower-id neighbour. The whole
point is the pair bound: K clusters turn O(N^2) global pairs into
O(sum c_k^2) intra-cluster pairs (64 clusters = ~64x fewer pairs here,
measured 124,750 -> 1,951 at sf0.01) — the only pairwise work a 100 TB
corpus can afford without LSH. Complements q45 (LSH-bucketed cosine) and
q34 (MinHash): same capability family, third candidate-bounding strategy.

q116 hashed-linear quality classifier: fastText-style model INFERENCE as a
pure relational plan — hashing-trick featurization (token -> sha-derived
bucket), a broadcast-joined weight table (the "model": K rows, learn-small
apply-wide), and a per-document margin as an exact integer sum. This is
how a trained quality/toxicity filter is applied to a 100 TB corpus: no
Python on the hot path, the model rides a broadcast, and the scan stays
one pass. Weights here are sha-derived stand-ins (deterministic, so the
oracle replicates them bit-for-bit); swapping in trained weights changes
one small table, not the plan.

q117 SCD Type-2 history: compress a per-key event/CDC stream into
effective-dated dimension rows (valid_from / valid_to / version /
is_current) — the standard warehouse "slowly changing dimension" build.
Change detection is lag() within (user, ts, event_id) order; run
boundaries then take lead() for the close-out date. Both windows are
partitioned by user_id, so the plan is one shuffle by key at any scale.

q118 prefix-filtered set-similarity join (AllPairs/PPJoin): the exact
scale path for Jaccard joins that q33 demos all-pairs. Tokens are ordered
by ascending global document frequency; a document whose distinct-shingle
set has size n keeps only its (n - ceil(t*n) + 1)-token prefix, and ONLY
prefix tokens enter the candidate self-join — the pigeonhole guarantee
(any pair with J >= t shares its globally-first common token inside both
prefixes) makes the output EXACTLY equal to the naive all-pairs join,
which is what the DuckDB oracle runs. Rare-first ordering keeps candidate
fanout tiny because prefix tokens are by construction the least shared.

q119 keyed pseudonymization: GDPR-style de-identification that preserves
the FK graph — every natural key is replaced by a deterministic keyed
hash (stateless tokenization: no lookup table to secure or shuffle), so
cross-table joins still line up after masking. The query proves it by
joining orders to customers ON THE PSEUDONYMS and reproducing the exact
per-segment revenue that the raw keys give. Complements q72 (value-level
PII masking + k-anonymity): q72 redacts contents, q119 re-keys identity.

Scale notes (100 TB): q115's pair stage shuffles on cluster id (bounded
groups); q116 is scan + explode + broadcast + hash-agg; q117 is one
shuffle by user key; q118's candidate join carries prefix tokens only
(explode bounded by (1-t)*|set| per doc) and its verify join touches
candidates, never all pairs; q119 is two scans + one equi-join with no
extra state. No driver collects, no Python UDFs, no global windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import (
    cents_sum,
    load,
    register,
    round4,
    sha_int,
    spread,
    sql_cents_sum,
    sql_round4,
    sql_sha_int,
)
from .similarity import _cosine, _sq_dist, _sql_cosine, _sql_sq_dist
from .text import _char_shingles, _norm_text

# --- q115: SemDeDup (cluster-bounded cosine near-dedup) ---------------------

# centroids = the K lowest vec_ids (deterministic seeds). K SCALES WITH THE
# CORPUS as K = max(16, round(2*sqrt(N))) — the IVF nlist heuristic, and
# the balance point of this recipe's two cost terms: nearest-centroid
# assignment costs N*K distance folds and the intra-cluster pair stage
# costs ~N^2/(2K) cosines, so K ~ sqrt(N) makes BOTH O(N^1.5). The two
# rejected corner cases were each measured as real defects: fixed K=64
# made occupancy (and pairs) grow linearly -> quadratic pair stage (6.5x
# time at 5x data); K = N/32 pinned occupancy but made the assignment
# term quadratic (5x -> 25x data: 4.3s -> 37.7s, caught by the 25x set).
# sqrt is IEEE-exact in both engines, so the oracle reproduces K exactly.
_SD_K_SQL = (
    "(SELECT greatest(16, CAST(round(2 * sqrt(CAST(count(*) AS DOUBLE)))"
    " AS BIGINT)) FROM embeddings)"
)
_SD_DIMS = 64
_SD_TAU = 0.35  # threshold on the round4'd cosine (engine-exact boundary)


_Q115_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (SELECT vec_id AS cluster, v AS cen FROM e WHERE vec_id < {_SD_K_SQL}),
a AS (
  SELECT vec_id, v, cluster FROM (
    SELECT e.vec_id, e.v, c.cluster,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_sq_dist('e.v', 'c.cen', _SD_DIMS)}, c.cluster) AS rk
    FROM e CROSS JOIN c0 c)
  WHERE rk = 1
),
p AS (
  SELECT x.cluster, x.vec_id AS ia, y.vec_id AS ib,
         {sql_round4(_sql_cosine('x.v', 'y.v'))} AS cosine
  FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
)
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(ib AS BIGINT) AS drop_id,
       CAST(min(ia) AS BIGINT) AS keep_id,
       arg_min(cosine, ia) AS cosine
FROM p WHERE cosine >= {_SD_TAU}
GROUP BY cluster, ib
"""


@register(
    "q115_semdedup",
    _Q115_ORACLE,
    "SemDeDup: K-cluster assignment, intra-cluster cosine, drop list",
)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
    )
    # corpus-scaled K (see _SD_K_SQL note): a 1-row count broadcast keeps
    # the plan fully lazy — no driver-side count() round-trip
    k = load(spark, sf_dir, "embeddings").agg(
        F.greatest(
            F.lit(16).cast("long"),
            F.round(F.lit(2) * F.sqrt(F.count(F.lit(1)).cast("double"))).cast("long"),
        ).alias("k")
    )
    cents = (
        e.crossJoin(F.broadcast(k))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cluster"), F.col("v").alias("cen"))
    )

    # nearest-centroid assignment: K rows per vector via broadcast, argmin
    # as a min(struct) hash aggregate (ties to the lowest cluster id) —
    # q100's idiom, never a per-vector window
    assigned = (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "v",
            F.struct(_sq_dist(F.col("v"), F.col("cen")).alias("d"), "cluster").alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"), F.any_value("v").alias("v"))
        .select("vec_id", "v", F.col("m.cluster").alias("cluster"))
        # both sides of the intra-cluster self-join read this; checkpoint so
        # the K-way assignment scan runs once, not twice (q55's idiom)
        .localCheckpoint(eager=False)
    )
    x, y = assigned.alias("x"), assigned.alias("y")
    cos = round4(_cosine(F.col("x.v"), F.col("y.v")))
    pairs = (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.cluster").alias("cluster"),
            F.col("x.vec_id").alias("ia"),
            F.col("y.vec_id").alias("ib"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= _SD_TAU)
    )
    return pairs.groupBy("cluster", F.col("ib").alias("drop_id")).agg(
        F.min("ia").alias("keep_id"), F.min_by("cosine", "ia").alias("cosine")
    )


# --- q116: hashed-linear quality classifier inference -----------------------

_QC_BUCKETS = 512


_Q116_ORACLE = f"""
WITH w AS (
  SELECT range AS bucket,
         {sql_sha_int("concat('w', CAST(range AS VARCHAR))")} % 2001 - 1000 AS wt
  FROM range({_QC_BUCKETS})
),
tok AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tk
  FROM documents WHERE text IS NOT NULL
),
b AS (
  SELECT doc_id, {sql_sha_int('tk')} % {_QC_BUCKETS} AS bucket
  FROM tok WHERE tk <> ''
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(w.wt) AS BIGINT) AS margin,
       CASE WHEN sum(w.wt) >= 0 THEN 'keep' ELSE 'drop' END AS decision
FROM b JOIN w USING (bucket)
GROUP BY b.doc_id
"""


@register(
    "q116_quality_classifier",
    _Q116_ORACLE,
    "hashed-ngram linear classifier inference (broadcast model, integer margin)",
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the "model": bucket -> integer weight, K rows, broadcast onto the scan
    weights = spark.range(_QC_BUCKETS).select(
        F.col("id").alias("bucket"),
        (sha_int(F.concat(F.lit("w"), F.col("id").cast("string"))) % 2001 - 1000).alias(
            "wt"
        ),
    )
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = spread(d.select("doc_id", _norm_text().alias("t"))).select(
        "doc_id", F.explode_outer(F.split("t", " ")).alias("tk")
    )
    b = tok.filter(F.col("tk") != "").select(
        "doc_id", (sha_int("tk") % _QC_BUCKETS).alias("bucket")
    )
    return (
        b.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("wt").alias("margin"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "margin",
            F.when(F.col("margin") >= 0, F.lit("keep")).otherwise(F.lit("drop")).alias(
                "decision"
            ),
        )
    )


# --- q117: SCD Type-2 dimension history from an event stream ----------------

_Q117_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events WHERE event_type IS NOT NULL
),
chg AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM ev
),
runs AS (
  SELECT user_id, event_type, ts AS valid_from, event_id
  FROM chg WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (
         PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
       CAST(row_number() OVER (
         PARTITION BY user_id ORDER BY valid_from, event_id) AS BIGINT) AS version,
       lead(valid_from) OVER (
         PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL AS is_current
FROM runs
"""


@register(
    "q117_scd2_history",
    _Q117_ORACLE,
    "SCD Type-2 build: change-run compression to effective-dated rows",
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL attribute values are excluded up front so plain lag() equality
    # is change detection (no three-valued-logic edge at run starts)
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


# --- q118: prefix-filtered exact set-similarity join (AllPairs/PPJoin) ------

_PP_K = 16  # shingle width: long shingles = selective tokens (prefix filtering
# lives on token rarity; 5-gram space collapses to ~1k distinct strings on
# this vocab — median df 22 at K=8 vs 1 at K=16, measured at sf0.1)
_PP_T_NUM, _PP_T_DEN = 9, 10  # Jaccard threshold 0.9 as an exact rational
# equivalent-overlap bound: J >= t  <=>  i >= ceil(num*(na+nb) / (num+den))
_PP_O_NUM, _PP_O_DEN = _PP_T_NUM, _PP_T_NUM + _PP_T_DEN


# The oracle mirrors the prefix-filter algorithm (naive all-pairs
# list_intersect over 124k ~1000-token lists costs ~30s in DuckDB — it
# would blow the driver's per-query budget). Exactness of prefix-filter
# vs naive is the pigeonhole theorem plus an explicit equality test on a
# naive-feasible subset: tests/test_properties.py::test_q118_prefix_filter_equals_naive.
_PP_SQL_SETS = f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT doc_id,
         list_distinct([substring(t, i, {_PP_K})
                        FOR i IN range(1, greatest(length(t) - {_PP_K - 1}, 1) + 1)]) AS s
  FROM norm
),
sz AS (SELECT doc_id, s, length(s) AS n FROM sh)"""

_Q118_ORACLE = f"""{_PP_SQL_SETS},
tok AS (SELECT doc_id, n, unnest(s) AS tk FROM sz),
freq AS (SELECT tk, count(*) AS df FROM tok GROUP BY tk),
pos AS (
  SELECT doc_id, n, tk,
         row_number() OVER (PARTITION BY doc_id ORDER BY df, tk) AS pos
  FROM tok JOIN freq USING (tk)
),
pre AS (SELECT doc_id, n, tk, pos FROM pos
        WHERE pos <= n - (({_PP_T_NUM} * n + {_PP_T_DEN - 1}) // {_PP_T_DEN}) + 1),
cand AS (
  -- size bound (t*nb <= na <= nb/t) in the join; positional filter after:
  -- overlap <= 1 + min(tokens after the first shared prefix token)
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.n) AS na, any_value(b.n) AS nb,
         min(a.pos) AS pa, min(b.pos) AS pb
  FROM pre a JOIN pre b
    ON a.tk = b.tk AND a.doc_id < b.doc_id
   AND a.n * {_PP_T_DEN} >= b.n * {_PP_T_NUM}
   AND b.n * {_PP_T_DEN} >= a.n * {_PP_T_NUM}
  GROUP BY a.doc_id, b.doc_id
),
surv AS (
  SELECT doc_a, doc_b FROM cand
  WHERE 1 + least(na - pa, nb - pb)
        >= ({_PP_O_NUM} * (na + nb) + {_PP_O_DEN - 1}) // {_PP_O_DEN}
)
SELECT doc_a, doc_b, inter, uni, {sql_round4("CAST(inter AS DOUBLE) / uni")} AS jaccard
FROM (
  SELECT doc_a, doc_b,
         CAST(length(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
         CAST(a.n + b.n - length(list_intersect(a.s, b.s)) AS BIGINT) AS uni
  FROM surv JOIN sz a ON a.doc_id = doc_a JOIN sz b ON b.doc_id = doc_b)
WHERE inter * {_PP_T_DEN} >= uni * {_PP_T_NUM}
"""


@register(
    "q118_prefix_filter_join",
    _Q118_ORACLE,
    "AllPairs/PPJoin prefix-filtered Jaccard join == naive all-pairs (oracle)",
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    shingles = F.array_distinct(_char_shingles(F.col("t"), _PP_K))
    # explode_outer, NOT explode: plain explode plants an implicit
    # "array non-empty" filter that Catalyst pushes below the exchange all
    # the way to the scan, re-deriving the whole shingle pipeline inside
    # the single-partition scan stage (one core; measured 21s -> 2.5s at
    # sf0.1 from this one change). The arrays are never empty by
    # construction (sequence(1, greatest(.., 1)) has >= 1 element), so the
    # outer variant is row-for-row identical. spread() before the build
    # keeps the array construction on every core.
    # s and n in SEPARATE projections: HOF expressions are CodegenFallback,
    # so this Project runs interpreted with NO common-subexpression
    # elimination — `shingles.alias("s"), F.size(shingles)` in one select
    # evaluates the whole array_distinct(transform(...)) pipeline TWICE per
    # row (verified in plans/r11/q118_before.txt op (6)). CollapseProject
    # keeps the split because `s` is referenced twice and is non-cheap.
    # Measured at sf0.1 (r11, interleaved min-of-8): 1.905 -> 1.808 s,
    # 6/8 pairs. At 100 TB this halves the build stage's per-row compute.
    sets = (
        spread(d.select("doc_id", _norm_text().alias("t")))
        .select("doc_id", shingles.alias("s"))
        .withColumn("n", F.size("s"))
    )
    tok = sets.select("doc_id", "n", F.explode_outer("s").alias("tk"))
    # global rarity order WITHOUT a global rank: the total order is the
    # (document-frequency, token) tuple itself, joined onto each token
    freq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("df"))
    # prefix length n - ceil(t*n) + 1, all-integer ceil: (num*n + den-1) div den
    plen = F.col("n") - F.floor(
        (_PP_T_NUM * F.col("n") + (_PP_T_DEN - 1)) / _PP_T_DEN
    ).cast("int") + 1
    pos_w = Window.partitionBy("doc_id").orderBy("df", "tk")
    prefix = (
        tok.join(freq, "tk")
        .withColumn("pos", F.row_number().over(pos_w))
        .filter(F.col("pos") <= plen)
        .select("doc_id", "n", "tk", "pos")
    )
    # candidate pairs: shared prefix token + PPJoin size bound; then the
    # positional filter (overlap can't exceed 1 + tokens after the first
    # shared prefix token on either side) before any array intersection
    req_overlap = F.floor(
        (_PP_O_NUM * (F.col("na") + F.col("nb")) + (_PP_O_DEN - 1)) / _PP_O_DEN
    )
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.tk") == F.col("pb.tk"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (F.col("pa.n") * _PP_T_DEN >= F.col("pb.n") * _PP_T_NUM)
            & (F.col("pb.n") * _PP_T_DEN >= F.col("pa.n") * _PP_T_NUM),
        )
        .groupBy(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .agg(
            F.any_value(F.col("pa.n")).alias("na"),
            F.any_value(F.col("pb.n")).alias("nb"),
            F.min(F.col("pa.pos")).alias("pa"),
            F.min(F.col("pb.pos")).alias("pb"),
        )
        .filter(
            1 + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
            >= req_overlap
        )
        .select("doc_a", "doc_b")
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            (F.size("s_a") + F.size("s_b")).cast("long").alias("nn"),
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("nn") - F.col("inter")).alias("uni"),
        )
        .filter(F.col("inter") * _PP_T_DEN >= F.col("uni") * _PP_T_NUM)
        .withColumn("jaccard", round4(F.col("inter") / F.col("uni")))
    )


# --- q119: keyed pseudonymization preserving referential integrity ----------

_Q119_ORACLE = f"""
WITH pc AS (
  SELECT {sql_sha_int("concat('cust|', CAST(c_custkey AS VARCHAR))")} AS pseudo,
         c_mktsegment
  FROM customer
),
po AS (
  SELECT {sql_sha_int("concat('cust|', CAST(o_custkey AS VARCHAR))")} AS pseudo,
         o_totalprice
  FROM orders
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT pseudo) AS BIGINT) AS n_customers,
       {sql_cents_sum("o_totalprice", "revenue")}
FROM po JOIN pc USING (pseudo)
GROUP BY c_mktsegment
"""


@register(
    "q119_pseudonymize",
    _Q119_ORACLE,
    "keyed pseudonymization: FK-consistent hashed keys, joins survive masking",
)
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stateless tokenization: pseudonym = keyed hash of the natural key.
    # Deterministic across tables -> the FK graph survives masking with no
    # lookup table to secure, shuffle, or keep consistent. (48-bit space:
    # collision odds ~n^2/2^49 — negligible at fixture scale and swappable
    # for full sha256 hex when billions of keys are in play.)
    def pseudo(c):
        return sha_int(F.concat(F.lit("cust|"), F.col(c).cast("string")))

    cust = load(spark, sf_dir, "customer").select(
        pseudo("c_custkey").alias("pseudo"), "c_mktsegment"
    )
    orders = load(spark, sf_dir, "orders").select(
        pseudo("o_custkey").alias("pseudo"), "o_totalprice"
    )
    return (
        orders.join(cust, "pseudo")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("pseudo").alias("n_customers"),
            cents_sum("o_totalprice", "revenue"),
        )
    )
