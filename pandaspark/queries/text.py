"""Text-analysis & deduplication operators over the `documents` table
(SURVEY.md §2.11 — the LLM-data-pipeline surface).

All hot paths are built-in expressions (JVM-side, codegen'd); nothing here
ships rows through Python. At 100 TB each of these is a single map pass +
one hash aggregation on doc-hash or lang — the natural shuffle keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pandaspark import operators

from . import load, register, round4, sha_int, spread, sql_sha_int


def _norm_text():
    """Normalization for content hashing: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))


def _char_shingles(t: Column, k: int) -> Column:
    """Every length-k character substring of `t`, in order and with
    repeats; a text shorter than k yields itself as its one shingle, so
    the array is never empty. `t` must be a column reference (see q33:
    lambdas capture it)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
        lambda i: F.substring(t, i, F.lit(k)),
    )


# --- q30: exact dedup via content hash ------------------------------------

_Q30_ORACLE = """
WITH h AS (
  SELECT lang,
         sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS doc_hash
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT doc_hash) AS BIGINT) AS n_unique,
       CAST(count(*) AS BIGINT) - CAST(count(DISTINCT doc_hash) AS BIGINT) AS n_dupes
FROM h
GROUP BY lang
"""


@register("q30_exact_dedup", _Q30_ORACLE, "normalized sha256 content-hash dedup stats")
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    h = d.select("lang", F.sha2(_norm_text(), 256).alias("doc_hash"))
    return h.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_hash").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("doc_hash")).alias("n_dupes"),
    )


# --- q31: text statistics (length / tokens / punctuation) -----------------

_Q31_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(length(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS total_tokens,
       CAST(sum(length(regexp_extract_all(text, '[.,;:!?]'))) AS BIGINT) AS total_punct,
       CAST(max(length(text)) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang
"""


@register("q31_text_stats", _Q31_ORACLE, "char/token/punctuation counts per language")
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    tokens = F.regexp_count("text", F.lit(r"\S+"))
    punct = F.regexp_count("text", F.lit(r"[.,;:!?]"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(tokens).cast("long").alias("total_tokens"),
        F.sum(punct).cast("long").alias("total_punct"),
        F.max(F.length("text")).cast("long").alias("max_chars"),
    )


# --- q32: heuristic language scoring (stopword hits) ----------------------

def _sql_hits(word: str) -> str:
    return f"length(regexp_extract_all(lower(text), '\\b{word}\\b'))"


_Q32_ORACLE = f"""
SELECT lang,
       CAST(sum({_sql_hits('the')} + {_sql_hits('and')}) AS BIGINT) AS en_hits,
       CAST(sum({_sql_hits('der')} + {_sql_hits('und')}) AS BIGINT) AS de_hits,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang
"""


@register("q32_lang_score", _Q32_ORACLE, "stopword-hit language-ID signal per lang")
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    lower = F.lower(F.col("text"))

    def hits(w: str):
        return F.regexp_count(lower, F.lit(rf"\b{w}\b"))

    return d.groupBy("lang").agg(
        F.sum(hits("the") + hits("and")).cast("long").alias("en_hits"),
        F.sum(hits("der") + hits("und")).cast("long").alias("de_hits"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# --- q33: n-gram Jaccard near-dup pairs -----------------------------------

_Q33_ORACLE = """
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct([substring(t, i, 3) FOR i IN range(1, length(t) - 1)]) AS shingles
  FROM (SELECT doc_id, lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
        FROM documents WHERE doc_id < 60)
)
SELECT * FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         floor(CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / CAST(length(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)
               * 10000 + 0.5) / 10000.0
         AS jaccard
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
WHERE jaccard >= 0.12
"""


@register("q33_ngram_jaccard", _Q33_ORACLE, "3-gram shingle Jaccard similarity join (near-dup)")
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    # materialize normalized text in its own projection FIRST: a lambda that
    # captures the regexp-normalization expression would re-run the regex per
    # shingle position (O(len) regex evals per doc) instead of once per doc
    tc = F.col("t")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(tc) - 2),
            lambda i: F.substring(tc, i, F.lit(3)),
        )
    )
    sh = d.select("doc_id", "lang", _norm_text().alias("t")).select(
        "doc_id", "lang", shingles.alias("shingles")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.array_distinct(F.concat(F.col("a.shingles"), F.col("b.shingles"))))
    jac = round4(inter.cast("double") / union.cast("double"))
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.12)
    )


# --- q34: MinHash near-dedup (LSH banding) --------------------------------

_N_HASHES = 16
# b bands × r rows tune the LSH S-curve: P(candidate | jaccard j) =
# 1-(1-j^r)^b, threshold ≈ (1/b)^(1/r). 4×4 → t ≈ 0.71: near-identical
# docs (j ≥ 0.9) are caught with P > 0.99 while the background mass of
# same-language pairs (j ≤ 0.35 on 5-gram shingles) almost never collides,
# keeping the bucket join's fanout tiny. 5-char shingles (not 3) are what
# separate the regimes: 3-grams of same-language text share ~0.45 jaccard
# baseline, drowning true near-dups. tests/test_layout.py asserts recall
# and candidate-rate against exact-Jaccard ground truth.
_BANDS = 4  # 4 rows per band
_SHINGLE_K = 5
_P = (1 << 31) - 1
_PERMS = [
    ((2654435761 * (i + 1)) % _P | 1, (40503 * (i + 7) * 2654435761) % _P)
    for i in range(_N_HASHES)
]
_ROWS_PER_BAND = _N_HASHES // _BANDS


def _minhash_oracle_ctes() -> str:
    """DuckDB CTEs replicating minhash_candidates exactly: the shared
    sha256-prefix hash family (sha_int) makes every stage — shingle hash,
    the 16 universal-hash minima, band buckets — SQL-expressible, so the
    whole LSH pipeline is value-hash-checkable instead of rows-only."""
    sig_terms = ",\n         ".join(
        f"min(({a} * h + {b}) % {_P}) AS m{i}" for i, (a, b) in enumerate(_PERMS)
    )
    band_selects = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, {bi} AS band, {bucket} AS bucket FROM sigs".format(
            bi=bi,
            bucket=sql_sha_int(
                "concat_ws('|', "
                + ", ".join(
                    f"CAST(m{bi * _ROWS_PER_BAND + r} AS VARCHAR)"
                    for r in range(_ROWS_PER_BAND)
                )
                + ")"
            ),
        )
        for bi in range(_BANDS)
    )
    # hash DISTINCT shingles once, then row-wise min-aggregate — mirrors the
    # Spark explode→agg shape and is ~20x faster in DuckDB than per-doc
    # list_transform passes (sha256 per occurrence)
    return f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL
),
ex AS (
  SELECT doc_id,
         unnest([substring(t, i, {_SHINGLE_K})
                 FOR i IN range(1, greatest(length(t) - {_SHINGLE_K - 1}, 1) + 1)]) AS s
  FROM norm
),
dh AS (SELECT s, {sql_sha_int('s')} % {_P} AS h FROM (SELECT DISTINCT s FROM ex)),
hs AS (SELECT doc_id, h FROM ex JOIN dh USING (s)),
sigs AS (
  SELECT doc_id,
         {sig_terms}
  FROM hs GROUP BY doc_id
),
bands AS (
    {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""


_Q34_ORACLE = _minhash_oracle_ctes() + "\nSELECT doc_a, doc_b FROM cand"

# the candidates plus each document's distinct shingle set (the oracle side
# of attach_shingle_sets), shared by the q55, q126 and q175 oracles
_SHINGLE_SET_CTES = _minhash_oracle_ctes() + f""",
sh AS (
  SELECT doc_id,
         list_distinct([substring(t, i, {_SHINGLE_K})
                        FOR i IN range(1, greatest(length(t) - {_SHINGLE_K - 1}, 1) + 1)]) AS sh
  FROM norm
)"""

_Q55_ORACLE = _SHINGLE_SET_CTES + """
SELECT keep_doc, drop_doc, jaccard FROM (
  SELECT c.doc_a AS keep_doc, c.doc_b AS drop_doc,
         floor(CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(length(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
               * 10000 + 0.5) / 10000.0 AS jaccard
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b)
WHERE jaccard >= 0.9"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 16-slot MinHash signature: [doc_id, sig array<long>].

    The shared signature stage of q34/q55/q126 — one map pass + a 16-min
    hash aggregate (see body comments)."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # Normalized text goes into its own projection first (see q33: lambdas
    # must capture a column ref, not the regex expression). No
    # array_distinct on shingles: min() is insensitive to duplicates, so
    # MinHash signatures are identical without the O(len^2) dedup pass.
    raw_shingles = _char_shingles(F.col("t"), _SHINGLE_K)
    # One string hash per shingle, then 16 universal-hash permutations
    # (a*h + b mod p) — the classic MinHash family. The 16 per-slot minima
    # run as EXPLODE → hash-aggregate (16 codegen'd min() aggs with map-side
    # partials), not as 16 interpreted array-transform passes: higher-order
    # lambdas execute per element in the interpreter, while the aggregate
    # form stays inside whole-stage codegen (~3x on this stage at sf0.1).
    # Same hashes → identical signatures either way. The string hash is the
    # sha256-prefix family (sha_int) — engine-portable, so the DuckDB oracle
    # replicates the pipeline bit-for-bit; % _P keeps h in [0, 2^31) so
    # a*h + b stays < 2^63 (ANSI-safe).
    # single-file scan → single partition; spread the per-doc shingle map
    par = spark.sparkContext.defaultParallelism
    hashed = (
        d.select("doc_id", _norm_text().alias("t"))
        .repartition(par, "doc_id")
        .select("doc_id", F.explode_outer(raw_shingles).alias("s"))
        .select("doc_id", F.pmod(sha_int("s"), F.lit(_P)).alias("h"))
    )
    sigs = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a_c) * F.col("h") + F.lit(b_c)) % F.lit(_P)).alias(f"_m{i}")
            for i, (a_c, b_c) in enumerate(_PERMS)
        ]
    )
    return sigs.select(
        "doc_id", F.array(*[f"_m{i}" for i in range(_N_HASHES)]).alias("sig")
    )


def _lsh_bands(sigs: DataFrame, *carry: str) -> DataFrame:
    """Cut each 16-slot signature into _BANDS bands of _ROWS_PER_BAND
    slots and hash each band to a bucket: (doc_id, *carry, band, bucket),
    one row per (doc, band), localCheckpoint'd for the band self-join
    (see candidates_from_signatures)."""
    return sigs.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        sha_int(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col("sig")[bi * _ROWS_PER_BAND + r].cast("string")
                                    for r in range(_ROWS_PER_BAND)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for bi in range(_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", *carry, "bb.band", "bb.bucket").localCheckpoint(eager=False)


def candidates_from_signatures(banded: DataFrame) -> DataFrame:
    """Band the signatures into LSH buckets; bucket-join yields candidate
    near-dup pairs (doc_a < doc_b). Fanout is bounded by band width — the
    canonical scalable near-dedup join, never all-pairs.

    `bands` is localCheckpoint'd before the self-join: the join's build
    side is a BroadcastExchange, and nothing under a broadcast can be a
    ReusedExchange — so without the cut BOTH sides re-derive the entire
    signature pipeline (shingle explode, per-shingle sha, 16-min
    aggregate run TWICE; only the repartition exchange was reused —
    plans/r11/q34_before.txt ops (6)-(10) vs (14)-(18)). The checkpoint
    payload is tiny ((doc_id, band, bucket) — _BANDS rows/doc) while the
    deduped pipeline is the dominant compute. Measured at sf0.1 (r11,
    interleaved min-of-5): q34 0.893 -> 0.745, q55 1.667 -> 1.552,
    q175 1.635 -> 1.588 — faster in 15/15 pairs. At 100 TB: one
    signature pass per query instead of two."""
    bands = _lsh_bands(banded)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures → banded bucket join → candidate pairs (the q34 plan)."""
    return candidates_from_signatures(minhash_signatures(spark, sf_dir))


@register("q34_minhash_lsh", _Q34_ORACLE, "MinHash+LSH banding candidate pairs")
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate stage alone (see minhash_candidates), hash-checked
    against a DuckDB replica of the full pipeline (shingle-hash → 16 minima
    → band buckets → bucket join); recall/candidate-rate are additionally
    asserted against exact-Jaccard ground truth in tests/test_layout.py,
    and q55 adds the exact-verify stage on top."""
    return minhash_candidates(spark, sf_dir)


def attach_shingle_sets(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """cand(doc_a, doc_b, ...) → the same rows plus sa/sb 5-gram shingle-set
    arrays for both pair members — the shared exact-verify attach of
    q55/q126/q175.

    Shape (guide §2.4 "remove shuffles outright" applied to broadcast
    exchanges + §5 lineage cut): the candidate-bounded shingle frame `sh`
    is computed ONCE — semi-join against the pair-member ids BEFORE the
    shingle projection, then localCheckpoint — and broadcast ONCE: both
    verify joins reference the same checkpointed subtree, with the sa/sb
    renames applied OUTSIDE the exchange via dataframe aliases, so the
    second join's build side canonicalizes equal and becomes a
    ReusedExchange of the first. Before this helper each query built the
    whole subtree twice (two documents scans, two semi-joins, two shingle
    projections, two broadcast builds — separate chains get fresh lambda
    exprIds, which defeats exchange canonicalization). Measured at sf0.1
    (interleaved, 5 pairs): q55 3.70 → 3.49 min, new side faster in every
    pair; plan 2 BroadcastExchange → 1 + 2 ReusedExchange, documents
    scanned once. At 100 TB the same change removes one full candidate-
    member scan + one broadcast build per query.

    Broadcasts stay gated on the measured candidate-doc count
    (operators.gated_broadcast, shuffle-hash fallback) exactly as before;
    the checkpoint materializes a candidate-bounded frame — never the
    corpus.

    The documents side is spread() BEFORE the semi-join: the fixture is a
    single-file scan, so without it the normalize + shingle + array_distinct
    projection for ~4k candidate docs runs on ONE core while 31 idle
    (guide §2.2 partition sizing). Measured at sf0.1 (r11, interleaved):
    the q55-shaped verify 3.63–3.69 s → 2.25–2.38 s. At 100 TB spread()
    is a structural no-op (the scan already feeds every core) and the
    semi-join + projection parallelize over the scan's own splits —
    row-preserving either way, results identical."""
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    n_cand_docs = cand_ids.count()
    shingles = F.array_distinct(_char_shingles(F.col("t"), _SHINGLE_K))
    sh = (
        spread(load(spark, sf_dir, "documents").filter(F.col("text").isNotNull()))
        .join(operators.gated_broadcast(cand_ids, n_cand_docs), "doc_id", "left_semi")
        .select("doc_id", _norm_text().alias("t"))
        .select("doc_id", shingles.alias("sh"))
        .localCheckpoint(eager=False)
    )
    shg = operators.gated_broadcast(
        sh, n_cand_docs, row_bytes=operators.SHINGLE_ROW_BYTES
    )
    a, b = shg.alias("__sha"), shg.alias("__shb")
    return (
        cand.join(a, F.col("doc_a") == F.col("__sha.doc_id"))
        .join(b, F.col("doc_b") == F.col("__shb.doc_id"))
        .select(
            *[F.col(c) for c in cand.columns],
            F.col("__sha.sh").alias("sa"),
            F.col("__shb.sh").alias("sb"),
        )
    )


@register("q55_dedup_pipeline", _Q55_ORACLE, "LSH candidates → exact-Jaccard verify → drop list")
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dedup pipeline: LSH candidate pairs are VERIFIED
    with exact 5-gram Jaccard, pairs ≥ 0.9 become (keep, drop) decisions
    (keep = lower doc_id). At 100 TB the verify join touches only candidate
    pairs (<2% of N²; see test_layout recall gate), so the pipeline's cost
    is the LSH scan + a candidate-sized join — never all-pairs.

    Deterministic end-to-end (fixed sha256-prefix hash family, exact set
    Jaccard) and fully oracle-checked: the DuckDB SQL replays candidates +
    verify bit-for-bit.
    """
    # candidates are consumed twice (verify join + the doc-id semi-join
    # below); localCheckpoint materializes the tiny pair list once instead
    # of re-running the whole LSH scan per consumer
    cand = minhash_candidates(spark, sf_dir).localCheckpoint(eager=False)
    # exact-verify attach: shingle arrays ONLY for pair members, computed
    # once and broadcast once (see attach_shingle_sets — semi-join before
    # the shingle projection, gated broadcast, ReusedExchange second leg)
    pairs = attach_shingle_sets(spark, sf_dir, cand)
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_distinct(F.concat("sa", "sb")))
    jac = round4(inter.cast("double") / union.cast("double"))
    return (
        pairs.select(
            F.col("doc_a").alias("keep_doc"),
            F.col("doc_b").alias("drop_doc"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.9)
    )
