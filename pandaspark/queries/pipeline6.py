"""LLM-data-pipeline operators, tranche 6: line-level dedup, SimHash
Hamming candidate join, dataset-card source health, n-gram vocabulary
coverage, bag-of-words dedup, and weighted priority sampling.

q120 line-level dedup (CCNet / RefinedWeb recipe): documents split into
fixed-width word "lines"; a line that recurs in more than one document is
boilerplate and gets dropped; the per-document report (kept fraction) is
what a production pipeline thresholds on. The corpus-wide repeat count is
one shuffle on the line hash; the join back to lines is the second — both
keyed on content hashes, so the plan is skew-resistant and has no
all-pairs stage anywhere.

q121 SimHash Hamming-distance candidate join: the banding trick that makes
signature dedup a JOIN instead of an all-pairs scan. 32-bit shingle
SimHash, split into 4 bands of 8 bits: any pair within Hamming distance 3
differs in at most 3 bands, so by pigeonhole it collides on at least one —
the banded equi-join is therefore EXACTLY the all-pairs HD<=3 result,
which is what the (quadratic, small-at-oracle-scale) DuckDB oracle
computes. Complements q38 (signatures only), q34 (MinHash/Jaccard), and
q115 (cosine): the fourth candidate-bounding strategy in the family.

q122 source-health dataset card: the per-source corpus report (volume,
token mass, language spread, duplication rate) a curation team reviews
before mixing sources into a training run. Duplicate status is computed
against the WHOLE corpus (cross-source duplicates count), with
word-order-insensitive bag-of-words hashing so shuffled near-copies are
visible; the only shuffles carry content hashes and 20 aggregate rows.

q123 n-gram vocabulary coverage: "how many distinct 3-grams cover 50 / 90
/ 99% of all 3-gram occurrences" — the curve a tokenizer-vocabulary
decision reads off. The global ranking and cumulative sum run through the
repo's two-phase machinery (operators.ranked_running_total:
range-partitioned, no single-partition window over the vocab — SURVEY
§7.4 item 4), so the op survives a vocabulary that does not fit one
task.

q124 bag-of-words dedup groups: exact dedup (q30) misses documents whose
words were reordered; hashing the SORTED distinct-token set catches them.
Emits one row per collision group (canonical keeper = min doc id,
membership list, and how many distinct raw texts the group collapses) —
the "shuffled duplicates" audit between exact-hash and MinHash dedup.

q125 weighted priority sampling (Duffield/Lund/Thorup): deterministic
top-k sample where item priority = weight / u, u a reproducible uniform
from the keyed 48-bit hash. Length-weighted here (n_chars), so long
documents are overrepresented exactly as a token-budget sample requires.
Priorities are two IEEE divisions of exact integers (u first normalized by
2^48, which is exact), so both engines order identically; top-k plans as
TakeOrderedAndProject — no global sort, no single-partition window.

Scale notes (100 TB): q120/q122 shuffle content hashes + join back by
hash; q121 shuffles (band, value) pairs — never signatures all-pairs;
q123's rank/cumsum stages are range-partitioned two-phase; q124 is one
hash aggregate; q125 is a scan + per-partition top-k merge. No driver
collects, no Python UDFs, no global windows, no all-pairs joins (q121's
oracle is quadratic, the Spark plan is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandaspark import operators

from . import (
    load,
    register,
    round4,
    sha_int,
    spread,
    sql_round4,
    sql_sha_int,
)
from .text import _norm_text

# --- q120: line-level dedup (cross-document repeated-line removal) ----------

_LINE_W = 10  # words per "line" (the fixtures have no newlines; fixed-width
# word windows are the deterministic stand-in for physical lines)

_Q120_ORACLE = f"""
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
lns AS (
  SELECT doc_id,
         [struct_pack(line := array_to_string(w[i*{_LINE_W}+1 : i*{_LINE_W}+{_LINE_W}], ' '),
                      nw := len(w[i*{_LINE_W}+1 : i*{_LINE_W}+{_LINE_W}]))
          FOR i IN range((len(w) + {_LINE_W - 1}) // {_LINE_W})] AS ls
  FROM n
),
ln AS (SELECT doc_id, unnest(ls, recursive := true) FROM lns),
rep AS (SELECT line, count(DISTINCT doc_id) AS nd FROM ln GROUP BY line)
SELECT ln.doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (nd > 1) AS BIGINT) AS n_dup_lines,
       CAST(sum(nw) AS BIGINT) AS total_words,
       CAST(coalesce(sum(nw) FILTER (nd = 1), 0) AS BIGINT) AS kept_words,
       {sql_round4("CAST(coalesce(sum(nw) FILTER (nd = 1), 0) AS DOUBLE) / sum(nw)")}
         AS retained_ratio
FROM ln JOIN rep USING (line)
GROUP BY ln.doc_id
"""


@register(
    "q120_line_dedup",
    _Q120_ORACLE,
    "line-level cross-doc dedup: repeated-line removal report per document",
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.col("w")
    n_lines = F.floor((F.size(w) + (_LINE_W - 1)) / _LINE_W).cast("int")
    chunk = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.struct(
            F.array_join(F.slice(w, i * _LINE_W + 1, _LINE_W), " ").alias("line"),
            F.size(F.slice(w, i * _LINE_W + 1, _LINE_W)).alias("nw"),
        ),
    )
    # inline_outer, not inline: the arrays are provably non-empty (>= 1
    # chunk per doc), and the outer variant keeps Catalyst from planting an
    # implicit non-empty filter that re-derives the chunk pipeline inside
    # the scan (q118's explode lesson)
    lines = (
        spread(d.select("doc_id", F.split(_norm_text(), " ").alias("w")))
        .select("doc_id", chunk.alias("ls"))
        .select("doc_id", F.inline_outer("ls"))
    )
    # corpus-wide repeat counts shuffle on the line itself (content-keyed,
    # bounded cardinality); the join back is hash-partitioned the same way
    rep = lines.groupBy("line").agg(F.count_distinct("doc_id").alias("nd"))
    kept = F.sum(F.when(F.col("nd") == 1, F.col("nw")).otherwise(F.lit(0)))
    return (
        lines.join(rep, "line")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_dup_lines"),
            F.sum("nw").cast("long").alias("total_words"),
            kept.cast("long").alias("kept_words"),
        )
        .withColumn(
            "retained_ratio",
            round4(F.col("kept_words").cast("double") / F.col("total_words")),
        )
    )


# --- q121: SimHash Hamming-distance candidate join (banded, exact) ----------

_SH_BITS = 32
_SH_BANDS = 4  # 4 bands x 8 bits: pigeonhole-exact for Hamming distance <= 3
_SH_BAND_W = _SH_BITS // _SH_BANDS
_SH_HD = _SH_BANDS - 1


def _sql_simhash_sets() -> str:
    """Shared oracle CTE: per-doc 32-bit shingle SimHash signatures."""
    return f"""
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(w[i+1:i+3], ' ')
                               FOR i IN range(greatest(len(w) - 2, 1))])) AS tok
  FROM n
),
hs AS (SELECT doc_id, {sql_sha_int('tok')} AS h FROM sh),
bits AS (
  SELECT doc_id, k.range AS k,
         CASE WHEN sum(2 * CAST((h >> CAST(k.range AS INTEGER)) & 1 AS BIGINT) - 1) > 0
              THEN 1 ELSE 0 END AS b
  FROM hs, range({_SH_BITS}) k
  GROUP BY ALL
),
s AS (
  SELECT doc_id,
         CAST(sum(b * (CAST(1 AS BIGINT) << CAST(k AS INTEGER))) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)"""


# The oracle runs the quadratic all-pairs form (feasible at oracle scale);
# the Spark plan runs the banded join, provably equal by pigeonhole.
_Q121_ORACLE = f"""{_sql_simhash_sets()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_HD}
"""


@register(
    "q121_simhash_hamming",
    _Q121_ORACLE,
    "banded SimHash join == all-pairs Hamming<=3 (pigeonhole-exact)",
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.col("w")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - 2, F.lit(1)) - 1),
            lambda i: F.array_join(F.slice(w, i + 1, 3), " "),
        )
    )
    hs = F.transform(shingles, lambda tok: sha_int(tok))
    # one fold builds all 32 vote counters (array accumulator), a second
    # turns signs into the packed signature — two passes over the hash
    # array instead of 32
    seq = F.sequence(F.lit(0), F.lit(_SH_BITS - 1))

    def pow2(j):  # exact: 2^j for j <= 48 is an exact double, cast back long
        return F.pow(F.lit(2.0), j.cast("double")).cast("long")

    def bit(h, j):  # (h >> j) & 1 for non-negative h, shift-by-column form
        return F.pmod(F.floor(h / pow2(j)).cast("long"), F.lit(2))

    votes = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), _SH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(seq, lambda j: bit(h, j) * 2 - 1),
            lambda a, b: a + b,
        ),
    )
    simhash = F.aggregate(
        F.zip_with(
            votes,
            seq,
            lambda v, j: F.when(v > 0, pow2(j)).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sigs = (
        spread(d.select("doc_id", F.split(_norm_text(), " ").alias("w")))
        .select("doc_id", simhash.alias("simhash"))
        # both sides of the band join read this; compute signatures once
        .localCheckpoint(eager=False)
    )
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * _SH_BAND_W)
                        .bitwiseAND(F.lit((1 << _SH_BAND_W) - 1))
                        .alias("bval"),
                    )
                    for b in range(_SH_BANDS)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", "simhash", "bd.band", "bd.bval")
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).cast("long").alias("hamming"),
        )
        # a pair can collide in several bands; hamming is functionally
        # determined by the pair, so distinct() is the dedup
        .distinct()
    )
    return cand.filter(F.col("hamming") <= _SH_HD)


# --- q122: per-source dataset-card health report -----------------------------

_Q122_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, lang, n_chars,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL
),
b AS (
  SELECT doc_id, source, lang, n_chars,
         len(string_split(t, ' ')) AS n_tokens,
         sha256(array_to_string(list_sort(list_distinct(string_split(t, ' '))), ' ')) AS bag
  FROM d
),
rep AS (SELECT bag, count(*) AS nb FROM b GROUP BY bag)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
       CAST(count(*) FILTER (nb > 1) AS BIGINT) AS n_bag_dups,
       {sql_round4("CAST(count(*) FILTER (nb > 1) AS DOUBLE) / count(*)")} AS dup_share
FROM b JOIN rep USING (bag)
GROUP BY source
"""


@register(
    "q122_source_health",
    _Q122_ORACLE,
    "per-source dataset card: volume, tokens, langs, corpus-wide dup rate",
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.col("t"), " ")
    b = spread(
        d.select("doc_id", "source", "lang", "n_chars", _norm_text().alias("t"))
    ).select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size(toks).cast("long").alias("n_tokens"),
        # word-order-insensitive content key: sorted distinct-token set
        F.sha2(F.array_join(F.array_sort(F.array_distinct(toks)), " "), 256).alias("bag"),
    )
    # corpus-wide bag multiplicity via ONE unordered window over the bag
    # key (an exchange of the slim (keys, bag) rows) — NOT a groupBy +
    # join-back, which would evaluate the expensive per-doc text subtree
    # (normalize/split/distinct/sort/sha2) twice
    from pyspark.sql import Window

    dup = (F.count(F.lit(1)).over(Window.partitionBy("bag")) > 1).cast("long")
    return (
        b.withColumn("_dup", dup)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_chars"
            ),
            F.sum("_dup").alias("n_bag_dups"),
        )
        .withColumn(
            "dup_share",
            round4(F.col("n_bag_dups").cast("double") / F.col("n_docs")),
        )
    )


# --- q123: n-gram vocabulary coverage curve ----------------------------------

_COV_THRESHOLDS = (50, 90, 99)

_Q123_ORACLE = f"""
WITH n AS (
  SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT unnest([array_to_string(w[i+1:i+3], ' ')
                 FOR i IN range(greatest(len(w) - 2, 1))]) AS tok
  FROM n
),
f AS (SELECT tok, count(*) AS cnt FROM g GROUP BY tok),
r AS (
  SELECT tok, cnt,
         row_number() OVER (ORDER BY cnt DESC, tok) AS rk,
         sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING) AS cum
  FROM f
),
t AS (SELECT sum(cnt) AS total FROM f)
SELECT thr.thr AS threshold_pct,
       CAST(min(rk) AS BIGINT) AS vocab_size,
       {sql_round4("CAST(arg_min(cum, rk) AS DOUBLE) / any_value(total)")} AS coverage
FROM r, t, (VALUES (50), (90), (99)) thr(thr)
WHERE cum * 100 >= thr.thr * total
GROUP BY thr.thr
"""


@register(
    "q123_ngram_coverage",
    _Q123_ORACLE,
    "3-gram vocabulary sizes covering 50/90/99% of occurrences (two-phase rank)",
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.col("w")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - 2, F.lit(1)) - 1),
        lambda i: F.array_join(F.slice(w, i + 1, 3), " "),
    )
    freq = (
        spread(d.select(F.split(_norm_text(), " ").alias("w")))
        .select(F.explode_outer(grams).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("neg", -F.col("cnt"))
        # vocab-sized (thousands of rows) but feeds FOUR consumers (rank
        # partition + offsets, cumsum partition + offsets, total): cut the
        # corpus-explode lineage so the scan+explode runs once
        .localCheckpoint(eager=False)
    )
    # global rank + global cumsum WITHOUT a single-partition window, FUSED:
    # both ride one range partitioning of the (count desc, gram) total
    # order — one shuffle + one layout checkpoint + one offsets job where
    # composing a ranking pass and a running-total pass paid each twice
    # (measured 1.82 s -> 1.45 s at sf0.1; exact-equal by test)
    cum = operators.ranked_running_total(
        freq, ["neg", "tok"], F.col("cnt"), total_alias="cum"
    )
    total = freq.agg(F.sum("cnt").alias("total"))
    thr = F.explode(F.array(*[F.lit(v) for v in _COV_THRESHOLDS])).alias(
        "threshold_pct"
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .select("rk", "cum", "total", thr)
        .filter(F.col("cum") * 100 >= F.col("threshold_pct") * F.col("total"))
        .groupBy("threshold_pct")
        .agg(
            F.min("rk").alias("vocab_size"),
            round4(
                F.min_by("cum", "rk").cast("double") / F.any_value("total")
            ).alias("coverage"),
        )
    )


# --- q124: bag-of-words (word-order-insensitive) dedup groups ----------------

_Q124_ORACLE = """
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL
),
b AS (
  SELECT doc_id, sha256(t) AS raw,
         sha256(array_to_string(list_sort(list_distinct(string_split(t, ' '))), ' ')) AS bag
  FROM d
)
SELECT bag,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(DISTINCT raw) AS BIGINT) AS n_distinct_raw,
       array_to_string(list_sort(list(doc_id)), ',') AS member_ids
FROM b GROUP BY bag HAVING count(*) > 1
"""


@register(
    "q124_bag_dedup",
    _Q124_ORACLE,
    "word-order-insensitive dedup groups (sorted token-set hash collisions)",
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = _norm_text()
    b = spread(d.select("doc_id", t.alias("t"))).select(
        "doc_id",
        F.sha2("t", 256).alias("raw"),
        F.sha2(
            F.array_join(F.array_sort(F.array_distinct(F.split(F.col("t"), " "))), " "),
            256,
        ).alias("bag"),
    )
    return (
        b.groupBy("bag")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.count_distinct("raw").alias("n_distinct_raw"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("member_ids"),
        )
        .filter(F.col("n_members") > 1)
    )


# --- q125: weighted priority sampling (deterministic top-k) ------------------

_PS_K = 50
_PS_SCALE = float(1 << 48)

_Q125_ORACLE = f"""
WITH p AS (
  SELECT doc_id, n_chars,
         CAST(n_chars AS DOUBLE)
           / ((CAST({sql_sha_int("concat('ps|', CAST(doc_id AS VARCHAR))")} AS DOUBLE) + 1.0)
              / {_PS_SCALE!r}) AS pri
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, {sql_round4('pri')} AS priority
FROM p ORDER BY pri DESC, doc_id LIMIT {_PS_K}
"""


@register(
    "q125_priority_sample",
    _Q125_ORACLE,
    "length-weighted priority sample: deterministic top-k by weight/uniform",
)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # u in (0, 1]: (h+1)/2^48 is exact (division by a power of two); the
    # only rounding is the final weight/u divide — one IEEE op both engines
    # execute identically, so the ordering is engine-independent
    u = (
        sha_int(F.concat(F.lit("ps|"), F.col("doc_id").cast("string"))).cast("double")
        + F.lit(1.0)
    ) / F.lit(_PS_SCALE)
    pri = F.col("n_chars").cast("double") / u
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            pri.alias("pri"),
        )
        # orderBy + limit plans as TakeOrderedAndProject: per-partition
        # top-k, single small merge — no global sort at any scale
        .orderBy(F.col("pri").desc(), "doc_id")
        .limit(_PS_K)
        .select("doc_id", "n_chars", round4(F.col("pri")).alias("priority"))
    )


# --- q126: MinHash estimation-accuracy evaluation ----------------------------
#
# Completes the dedup family the way q80 completes ANN: for every LSH
# candidate pair, compare the signature-estimated Jaccard (matching slots /
# 16) against the exact 5-gram-shingle Jaccard the verify stage computes.
# The per-pair error distribution is what calibrates the banding threshold
# (how much does a 16-slot sketch lie?) before a 100 TB run commits to it.
# Cost shape: the signature scan (shared with q34), a candidate-bounded
# estimate join, and q55's candidate-bounded exact verify — never all-pairs.

from .text import (  # noqa: E402
    _N_HASHES,
    _SHINGLE_SET_CTES,
    _lsh_bands,
    attach_shingle_sets,
    minhash_signatures,
)

_Q126_EST = " + ".join(
    f"CAST(sa.m{i} = sb.m{i} AS BIGINT)" for i in range(_N_HASHES)
)

_Q126_ORACLE = _SHINGLE_SET_CTES + f""",
est AS (
  SELECT c.doc_a, c.doc_b, ({_Q126_EST}) AS n_eq
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, est_jaccard, jaccard,
       {sql_round4("abs(est_jaccard - jaccard)")} AS abs_err
FROM (
  SELECT e.doc_a, e.doc_b,
         {sql_round4(f"CAST(e.n_eq AS DOUBLE) / {_N_HASHES}.0")} AS est_jaccard,
         {sql_round4(
             "CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)"
             " / CAST(length(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)"
         )} AS jaccard
  FROM est e JOIN sh a ON a.doc_id = e.doc_a JOIN sh b ON b.doc_id = e.doc_b)
"""


@register(
    "q126_minhash_accuracy",
    _Q126_ORACLE,
    "per-candidate MinHash Jaccard estimate vs exact (sketch calibration)",
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The estimate needs both pair members' signatures. Rather than joining
    # signatures back onto the candidate pairs (two more joins = three
    # serialized broadcast jobs, measured +3s at sf0.1), the estimate is
    # computed FROM the band join itself — and folded to its single long
    # n_eq per collision row BEFORE the pair groupBy, so the pair shuffle
    # and the shared checkpoint carry 8 bytes per row instead of both
    # 16-long signatures (256 B; ~1.1 GB -> ~35 MB at skew100's 4.39M
    # candidate rows). The 16 array compares run per collision row instead
    # of per distinct pair — codegen'd integer compares, sf0.1-neutral
    # (3.72 s vs 3.68 s interleaved), and the fold stays map-side
    # partial-aggregable. max() rather than any_value(): every collision
    # row of a pair carries the same n_eq (signatures are deterministic
    # per doc_id), so both return the same value at identical cost, but
    # max() is correct even without that invariant.
    bands = _lsh_bands(minhash_signatures(spark, sf_dir), "sig")
    # ^ same cut as text.candidates_from_signatures: the self-join's build
    # side is a BroadcastExchange, under which nothing can be reused, so
    # without the checkpoint the full signature pipeline (shingle explode +
    # sha + 16-min aggregate) runs twice. Payload here additionally carries
    # sig (16 longs/row) for the n_eq fold — still ~12 MB at sf0.1.
    # Measured (r11, interleaved min-of-5): 2.049 -> 1.883 s, 4/5 pairs.
    a, b = bands.alias("a"), bands.alias("b")
    n_eq = sum(
        (F.col("a.sig")[i] == F.col("b.sig")[i]).cast("long")
        for i in range(_N_HASHES)
    )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            n_eq.alias("n_eq"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("n_eq").alias("n_eq"))
        # consumed by the estimate AND both cand_ids legs below
        .localCheckpoint(eager=False)
    )
    # exact verify reuses q55's candidate-bounded shape via the shared
    # attach: shingle SETS only for docs that appear in some pair, computed
    # once and broadcast once (second leg ReusedExchange) — see
    # text.attach_shingle_sets
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_distinct(F.concat("sa", "sb"))).cast("double")
    return (
        attach_shingle_sets(spark, sf_dir, cand)
        .select(
            "doc_a",
            "doc_b",
            round4(F.col("n_eq").cast("double") / F.lit(float(_N_HASHES))).alias(
                "est_jaccard"
            ),
            round4(inter / union).alias("jaccard"),
        )
        .withColumn("abs_err", round4(F.abs(F.col("est_jaccard") - F.col("jaccard"))))
    )
