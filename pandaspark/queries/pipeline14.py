"""Tranche 14: engine-portable probabilistic structures, hash-checked.

The point of this tranche: sketches are usually exempted from value-hash
verification ("approximate = can't oracle-check" — q58's stance until it
was re-registered on this machinery in round 6). That exemption is lazy — a sketch built from a DETERMINISTIC hash family is a pure function
of its input, so a DuckDB replica produces the bit-identical sketch and
the estimate itself becomes hash-checkable, error audit included. Every
query here follows that discipline on the shared sha256-prefix family
(`sha_int`, queries/__init__.py), through the one copy per engine of each
sketch in queries/sketches.py:

q181 Count-Min heavy hitters: d=4 x w=64 CMS over event users — the
sketch build is one map-side-combinable (row, bucket) count; estimates
(min over d buckets) join the top-20 exact counts so the report carries
the classic one-sided overcount audit. At 100 TB the sketch is d*w rows
regardless of input — broadcastable state for any downstream estimator —
and w is deliberately undersized here (64 << 150 users) so collisions are
real and the audit is non-trivial.

q182 portable HyperLogLog: m=64 registers per event_type. rho (leading-
rank of the 42-bit suffix) is computed with integer ops only (binary
string length — no libm log2); register reciprocals 2^-M are dyadic
rationals with denominator 2^-43, so the across-register sum needs <= 49
mantissa bits and is EXACT under any summation order — the one floating
sum in the pipeline is associativity-proof by construction, which is what
makes a cross-engine hash match possible at all. Raw estimate only (the
small-range linear-counting correction needs ln(), which is not
correctly-rounded libm — documented omission, the error audit column
shows exactly what that costs). Registers merge by max: partial
aggregation IS sketch union, so the same plan is the distributed merge.

q183 Bloom-filter membership audit: m=4096 bits / k=3 over the p_size<10
part keys, probed with every distinct lineitem part key. The filter is
materialized as its set-bit positions (a few hundred rows) — broadcast to
the probe side, which is precisely the runtime-filter/semi-join-pushdown
shape a warehouse uses to prune a fact scan; the report quantifies the
false-positive rate that pruning would tolerate.

q184 winnowing cross-doc substring overlap (the cross-document
counterpart of q44's per-doc fingerprint): 8-gram rolling fingerprints,
mod-32 selection, doc-frequency-capped inverted index (df in [2,20] —
ubiquitous fingerprints are boilerplate, q73's lesson, and the cap bounds
posting-list fanout the way q147 does), pair counts over the index. This
is the memorization / plagiarism detector of Lee et al.'s dedup suite
expressed as two hash joins — never all-pairs.

q185 leakage-safe split: q124's word-order-insensitive bag hash becomes
the split unit, so shuffled near-copies of one document can never land on
both sides of a train/eval boundary (the contamination mode q69 audits
for). Fold = hash of the BAG, not the doc id — co-assignment by
construction, no cluster join needed.

Scale notes (100 TB): q181/q182 are single hash aggregates with tiny
outputs; q183 broadcasts a fixed-size filter; q184 shuffles selected
fingerprints only (~1/32 of grams) with df-capped join fanout; q185 is
one hash aggregate. No driver collects, no Python UDFs, no global
windows, no all-pairs joins.

Reference parity: none — the reference engine has no probabilistic
structures; this tranche is beyond-reference capability for the
training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import (
    load,
    register,
    round4,
    sha_int,
    spread,
    sql_round4,
    sql_sha_int,
)
from .sketches import (
    CMS_D,
    CMS_W,
    cms_buckets,
    cms_sketch,
    hll_estimate,
    hll_registers,
    keyed_hash,
    sql_cms_sketch,
    sql_hash_rows,
    sql_hll_estimate,
    sql_hll_registers,
    sql_keyed_hash,
)
from .text import _norm_text

# --- q181: Count-Min sketch heavy hitters with overcount audit --------------

_TOP = 20


_Q181_ORACLE = f"""
WITH ev AS (SELECT user_id FROM events),
sketch AS ({sql_cms_sketch('ev', 'user_id')}),
exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM ev GROUP BY user_id
),
top AS (
  SELECT user_id, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, user_id LIMIT {_TOP}
),
probe AS (
  SELECT t.user_id, t.exact_cnt, hj, {sql_keyed_hash('user_id', CMS_W)} AS bucket
  FROM top t CROSS JOIN {sql_hash_rows(CMS_D)}
)
SELECT p.user_id, p.exact_cnt,
       CAST(min(s.cnt) AS BIGINT) AS cms_est,
       CAST(min(s.cnt) - p.exact_cnt AS BIGINT) AS overcount
FROM probe p JOIN sketch s USING (hj, bucket)
GROUP BY p.user_id, p.exact_cnt
"""


@register(
    "q181_cms_heavy_hitters",
    _Q181_ORACLE,
    "Count-Min sketch (d=4, w=64) heavy-hitter estimates with exact overcount audit",
)
def q181(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id")
    # sketch FROM the per-key counts the heavy-hitter audit needs anyway
    # (same rewrite as q189/q187, guide §2.3): the table is scanned once
    # instead of twice.
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .localCheckpoint(eager=False)
    )
    sketch = cms_sketch(exact, "user_id", "exact_cnt")
    top = exact.orderBy(F.col("exact_cnt").desc(), "user_id").limit(_TOP)
    probe = top.select(
        "user_id", "exact_cnt", F.explode(cms_buckets(F.col("user_id"))).alias("jb")
    ).select("user_id", "exact_cnt", "jb.j", "jb.bucket")
    return (
        probe.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(
            F.min("cnt").cast("long").alias("cms_est"),
            (F.min("cnt") - F.col("exact_cnt")).cast("long").alias("overcount"),
        )
    )


# --- q182: portable HyperLogLog distinct users per event type ---------------

_Q182_ORACLE = f"""
WITH reg AS ({sql_hll_registers('events', 'event_type', 'user_id')}),
est AS ({sql_hll_estimate('reg', 'event_type')}),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_ndv
  FROM events GROUP BY event_type
)
SELECT e.event_type, n_regs_hit, hll_est, exact_ndv,
       {sql_round4('(hll_est - exact_ndv) / exact_ndv')} AS rel_err
FROM est e JOIN exact USING (event_type)
"""


@register(
    "q182_hll_distinct",
    _Q182_ORACLE,
    "hand-rolled deterministic HyperLogLog (m=64) NDV per event type, error vs exact",
)
def q182(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    # ONE distinct-(type, user) frame feeds BOTH the HLL registers and the
    # exact-NDV audit (q58's shape, guide §2.3): duplicates cannot change
    # max(rho), so hashing the distinct pairs is identical to hashing every
    # row — and the sha256 runs once per distinct pair while the separate
    # countDistinct scan disappears. Interleaved sf0.1 A/B: 0.88 → 0.78 s
    # min, new side faster or equal in every pair.
    okd = ev.distinct().localCheckpoint(eager=False)
    est = hll_estimate(hll_registers(okd, "event_type", "user_id"), "event_type")
    # count(user_id), not count(*): the oracle's count(DISTINCT user_id)
    # excludes NULLs, and a NULL user_id survives ev.distinct() as its own
    # pair row. The fixtures carry no NULL user_ids (so hashes are
    # unchanged), but this keeps the audit exact on any corpus (r10 ADVICE).
    exact = okd.groupBy("event_type").agg(
        F.count("user_id").cast("long").alias("exact_ndv")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "n_regs_hit",
        "hll_est",
        "exact_ndv",
        round4((F.col("hll_est") - F.col("exact_ndv")) / F.col("exact_ndv")).alias(
            "rel_err"
        ),
    )


# --- q183: Bloom-filter membership audit ------------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_K = 3  # hash functions


_Q183_ORACLE = f"""
WITH members AS (SELECT p_partkey AS k FROM part WHERE p_size < 10),
bits AS (
  SELECT DISTINCT {sql_keyed_hash('k', _BLOOM_M)} AS pos
  FROM members CROSS JOIN {sql_hash_rows(_BLOOM_K)}
),
probe AS (SELECT DISTINCT l_partkey AS k FROM lineitem),
probe_pos AS (
  SELECT k, hj, {sql_keyed_hash('k', _BLOOM_M)} AS pos
  FROM probe CROSS JOIN {sql_hash_rows(_BLOOM_K)}
),
verdict AS (
  SELECT pp.k,
         (count(b.pos) = {_BLOOM_K}) AS bloom_member,
         max(CASE WHEN m.k IS NULL THEN 0 ELSE 1 END) = 1 AS true_member
  FROM probe_pos pp
  LEFT JOIN bits b ON pp.pos = b.pos
  LEFT JOIN members m ON pp.k = m.k
  GROUP BY pp.k
)
SELECT CAST(count(*) AS BIGINT) AS n_probed,
       CAST(count(*) FILTER (bloom_member) AS BIGINT) AS n_bloom_pos,
       CAST(count(*) FILTER (true_member) AS BIGINT) AS n_true_members,
       CAST(count(*) FILTER (bloom_member AND NOT true_member) AS BIGINT)
         AS n_false_pos,
       {sql_round4('CAST(count(*) FILTER (bloom_member AND NOT true_member) AS DOUBLE)'
                   ' / count(*) FILTER (NOT true_member)')} AS fp_rate
FROM verdict
"""


@register(
    "q183_bloom_audit",
    _Q183_ORACLE,
    "Bloom filter (m=4096,k=3) over p_size<10 parts probed by lineitem keys; FP-rate audit",
)
def q183(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    members = part.filter(F.col("p_size") < 10).select(F.col("p_partkey").alias("k"))
    positions = F.array(*[keyed_hash(j, F.col("k"), _BLOOM_M) for j in range(_BLOOM_K)])
    # the filter itself: distinct set-bit positions — a few hundred rows,
    # broadcast to the probe side (the runtime-filter shape)
    bits = members.select(F.explode(positions).alias("pos")).distinct()
    probe = li.select(F.col("l_partkey").alias("k")).distinct()
    probe_pos = probe.select("k", F.posexplode(positions).alias("j", "pos"))
    hit = (
        probe_pos.join(F.broadcast(bits.withColumn("m", F.lit(1))), "pos", "left")
        .groupBy("k")
        .agg((F.count("m") == _BLOOM_K).alias("bloom_member"))
    )
    verdict = hit.join(
        F.broadcast(members.withColumn("t", F.lit(1))), "k", "left"
    ).select("k", "bloom_member", F.col("t").isNotNull().alias("true_member"))
    fp = F.col("bloom_member") & ~F.col("true_member")
    return verdict.agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.count_if(F.col("bloom_member")).cast("long").alias("n_bloom_pos"),
        F.count_if(F.col("true_member")).cast("long").alias("n_true_members"),
        F.count_if(fp).cast("long").alias("n_false_pos"),
        round4(
            F.count_if(fp).cast("double") / F.count_if(~F.col("true_member"))
        ).alias("fp_rate"),
    )


# --- q184: winnowing cross-doc substring overlap ----------------------------

_WG_K = 8  # gram width (chars)
_WG_MOD = 32  # selection rate: keep fingerprints with h % 32 == 0
_WG_DF_MIN, _WG_DF_MAX = 2, 20  # doc-frequency band for the inverted index
_WG_SHARED_MIN = 2  # pairs must share at least this many fingerprints


_Q184_ORACLE = f"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, unnest([substring(t, i, {_WG_K})
                         FOR i IN range(1, length(t) - {_WG_K - 2})]) AS s
  FROM n WHERE length(t) >= {_WG_K}
),
fp AS (
  SELECT DISTINCT doc_id, {sql_sha_int('s')} AS f
  FROM g
  WHERE {sql_sha_int('s')} % {_WG_MOD} = 0
),
df AS (
  SELECT f FROM fp GROUP BY f
  HAVING count(*) BETWEEN {_WG_DF_MIN} AND {_WG_DF_MAX}
),
idx AS (SELECT doc_id, f FROM fp JOIN df USING (f))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fp
FROM idx a JOIN idx b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_WG_SHARED_MIN}
"""


@register(
    "q184_substring_overlap",
    _Q184_ORACLE,
    "cross-doc substring overlap via winnowed 8-gram fingerprints (df-capped inverted index)",
)
def q184(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gate on the length of the NORMALIZED text: whitespace collapse can
    # shrink a doc below the gram width, and a raw-length gate would then
    # emit one truncated gram here while the oracle's range() emits none.
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", _norm_text().alias("t"))
        .filter(F.length("t") >= _WG_K)
    )
    tc = F.col("t")
    grams = F.transform(
        F.sequence(F.lit(1), F.length(tc) - (_WG_K - 1)),
        lambda i: F.substring(tc, i, F.lit(_WG_K)),
    )
    # explode then hash as a column (codegen'd sha2 per row) — same shape
    # as minhash_signatures; the HOF-interpreted per-element hash is ~3x
    # slower (see queries/text.py body comment)
    fp = (
        spread(d)
        .select("doc_id", F.explode(grams).alias("s"))
        .select("doc_id", sha_int("s").alias("f"))
        .filter(F.col("f") % _WG_MOD == 0)
        .distinct()
        # checkpoint the winnowed fingerprints (two longs per row, ~3% of
        # grams survive %MOD + distinct): without it the pair join's
        # inferred isnotnull(doc_id) pushes down the idx leg ONLY, the two
        # fp derivations stop canonicalizing equal, and the full
        # explode+sha gram pipeline runs TWICE (plan ops (1)-(11) vs
        # (12)-(25) in plans/r11/q184_before.txt). Measured at sf0.1
        # (r11, interleaved): 0.983 -> 0.781 s min, ckpt faster in 6/6
        # pairs. At 100 TB: one gram scan instead of two.
        .localCheckpoint(eager=False)
    )
    df_band = (
        fp.groupBy("f")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd").between(_WG_DF_MIN, _WG_DF_MAX))
        .select("f")
    )
    idx = fp.join(df_band, "f")
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(b, (F.col("a.f") == F.col("b.f")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fp"))
        .filter(F.col("shared_fp") >= _WG_SHARED_MIN)
    )


# --- q185: leakage-safe near-dup-aware fold split ---------------------------

_N_FOLDS = 5

_Q185_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL
),
b AS (
  SELECT doc_id, lang, n_chars,
         sha256(array_to_string(list_sort(list_distinct(string_split(t, ' '))), ' ')) AS bag
  FROM d
),
f AS (
  SELECT doc_id, lang, n_chars, bag,
         {sql_sha_int("'fold|' || bag")} % {_N_FOLDS} AS fold
  FROM b
)
SELECT fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT bag) AS BIGINT) AS n_groups,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM f GROUP BY fold
"""


@register(
    "q185_leakage_safe_split",
    _Q185_ORACLE,
    "k-fold split keyed on the bag-of-words hash: near-copies co-fold by construction",
)
def q185(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(_norm_text(), " ")
    # the split unit is q124's word-order-insensitive content key: fold
    # assignment is a pure function of the BAG, so shuffled near-copies
    # can never straddle a train/eval boundary
    bag = F.sha2(F.array_join(F.array_sort(F.array_distinct(toks)), " "), 256)
    f = (
        spread(d)
        .select("doc_id", "lang", "n_chars", bag.alias("bag"))
        .withColumn("fold", sha_int(F.concat(F.lit("fold|"), F.col("bag"))) % _N_FOLDS)
    )
    return f.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("bag").cast("long").alias("n_groups"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- q186: data-quality expectations suite ----------------------------------

_Q186_ORACLE = """
WITH o AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
              + count(*) FILTER (o_orderkey IS NULL) AS BIGINT) AS v_pk,
         CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS v_cust,
         CAST(count(*) FILTER (o_orderstatus IS NOT NULL
              AND o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT) AS v_status,
         CAST(count(*) FILTER (o_totalprice IS NOT NULL
              AND o_totalprice < 0) AS BIGINT) AS v_price,
         CAST(count(*) FILTER (o_orderpriority IS NOT NULL
              AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS BIGINT)
           AS v_prio
  FROM orders
),
l AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (l_quantity IS NOT NULL
              AND l_quantity NOT BETWEEN 1 AND 50) AS BIGINT) AS v_qty,
         CAST(count(*) FILTER (l_discount IS NOT NULL
              AND l_discount NOT BETWEEN 0.0 AND 0.1) AS BIGINT) AS v_disc,
         CAST(count(*) FILTER (l_shipdate IS NULL) AS BIGINT) AS v_ship
  FROM lineitem
)
SELECT 'pk_orderkey' AS check_name, 'o_orderkey' AS col_name,
       n AS n_rows, v_pk AS n_violations, v_pk = 0 AS passed FROM o
UNION ALL SELECT 'custkey_present', 'o_custkey', n, v_cust, v_cust = 0 FROM o
UNION ALL SELECT 'status_domain', 'o_orderstatus', n, v_status, v_status = 0 FROM o
UNION ALL SELECT 'price_nonneg', 'o_totalprice', n, v_price, v_price = 0 FROM o
UNION ALL SELECT 'priority_format', 'o_orderpriority', n, v_prio, v_prio = 0 FROM o
UNION ALL SELECT 'qty_range', 'l_quantity', n, v_qty, v_qty = 0 FROM l
UNION ALL SELECT 'discount_range', 'l_discount', n, v_disc, v_disc = 0 FROM l
UNION ALL SELECT 'shipdate_present', 'l_shipdate', n, v_ship, v_ship = 0 FROM l
"""


@register(
    "q186_expectations_suite",
    _Q186_ORACLE,
    "Deequ-style declarative quality checks, one aggregate pass per table",
)
def q186(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandaspark.expectations import Check, compile_suite

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    o_checks = [
        Check("pk_orderkey", "o_orderkey", "unique"),
        Check("custkey_present", "o_custkey", "not_null"),
        Check("status_domain", "o_orderstatus", "accepted_values", values=("O", "F", "P")),
        Check("price_nonneg", "o_totalprice", "non_negative"),
        Check("priority_format", "o_orderpriority", "matches", pattern="^[1-5]-"),
    ]
    l_checks = [
        Check("qty_range", "l_quantity", "in_range", lo=1, hi=50),
        Check("discount_range", "l_discount", "in_range", lo=0.0, hi=0.1),
        Check("shipdate_present", "l_shipdate", "not_null"),
    ]
    return compile_suite(o, o_checks).unionByName(compile_suite(li, l_checks))


# --- q187: CMS inner product = self-join size (F2) estimate -----------------

_Q187_ORACLE = f"""
WITH li AS (SELECT l_partkey FROM lineitem),
sketch AS ({sql_cms_sketch('li', 'l_partkey')}),
est AS (SELECT min(s2) AS cms_f2
        FROM (SELECT hj, sum(cnt * cnt) AS s2 FROM sketch GROUP BY hj)),
exact AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2
          FROM (SELECT count(*) AS c FROM li GROUP BY l_partkey))
SELECT exact_f2,
       CAST(cms_f2 AS BIGINT) AS cms_f2,
       CAST(cms_f2 - exact_f2 AS BIGINT) AS overshoot,
       {sql_round4('(cms_f2 - exact_f2) / CAST(exact_f2 AS DOUBLE)')}
         AS rel_overshoot
FROM est CROSS JOIN exact
"""


@register(
    "q187_cms_join_size",
    _Q187_ORACLE,
    "self-join size (F2) estimated from the CMS inner product vs exact — the CBO cardinality primitive",
)
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cost-based-optimizer cardinality primitive: |A self-join on k| =
    sum_k cnt(k)^2 (the second frequency moment), estimated from the CMS
    row inner products (min over d rows of sum_b cnt^2 — one-sided
    overestimate from collision cross-terms). Sketch state is d*w counters
    regardless of input; at 100 TB the estimate costs one map-side-
    combinable count plus arithmetic on 256 numbers."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    # sketch FROM the per-key counts the exact audit needs anyway (same
    # rewrite as q189, guide §2.3): the table is scanned once instead of
    # twice.
    kc = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    sketch = cms_sketch(kc, "l_partkey", "c")
    est = (
        sketch.groupBy("j")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("s2"))
        .agg(F.min("s2").alias("cms_f2"))
    )
    exact = kc.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_f2"))
    return est.crossJoin(exact).select(
        "exact_f2",
        F.col("cms_f2").cast("long").alias("cms_f2"),
        (F.col("cms_f2") - F.col("exact_f2")).cast("long").alias("overshoot"),
        round4(
            (F.col("cms_f2") - F.col("exact_f2")) / F.col("exact_f2").cast("double")
        ).alias("rel_overshoot"),
    )
