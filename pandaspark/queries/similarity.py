"""Similarity search over the `embeddings` table (array<float>, 64-dim) —
SURVEY.md §2.11.

Brute-force cosine top-k is the exact baseline (a broadcast-join + window);
the LSH-bucketed variant is the 100 TB path (candidates shrink from N×Q to
bucket-local). Dot products run as JVM array expressions (zip_with +
aggregate) — sequential fold, so the float summation order is identical to
DuckDB's list functions and results hash-match exactly after rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load, register, round4, spread, sql_round4

_K = 5
_N_QUERIES = 5  # vec_id < 5 are the query vectors


def _dot(a, b):
    # aggregate(zip_with(...)), NOT an unrolled 64-term expression chain:
    # unrolling was tried (same 0.0 seed + left-assoc order, so bit-equal)
    # and measured 2-4x SLOWER — the ~192-node tree exceeds codegen limits
    # and falls back to per-row interpreted Expression.eval with 64
    # element_at calls, while the HOF fold iterates the array natively.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))


def _cosine(a, b):
    # the one Catalyst cosine; callers round it with round4
    return _dot(a, b) / (_norm(a) * _norm(b))


def _sql_cosine(a: str, b: str) -> str:
    # DuckDB twin of _cosine: list_dot_product is the same sequential double
    # fold as _dot, so sql_round4(_sql_cosine(a, b)) hash-matches
    # round4(_cosine(a, b))
    return (
        f"list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def cosine4_tiles(amat, bmat, rows: int, cols: int):
    """The one numpy cosine: yields (sa, sb, c4) per (rows, cols) tile of
    the amat x bmat score matrix, c4 = floor(cos * 1e4 + 0.5) as float64
    (the round4 convention before its / 1e4).

    The dense-linalg exception: the registry keeps every hot path JVM-side
    (tests/test_plans.py forbids Python there), but an all-pairs cosine as
    a Catalyst higher-order fold is interpreted per element, while numpy
    scores a whole tile in one BLAS matmul. q45, q142 and q143 run this
    kernel inside applyInPandas groups. numpy's pairwise summation differs
    from the engines' sequential folds by <=1e-15 relative, which the 4-dp
    floor-rounding absorbs — hash-match asserted at sf0.001/0.01/0.1 and 5x
    (q142/q143 also at 25x).

    Each entry is the same expression whatever the tile boundaries, so the
    result is tile-invariant and the tile size only bounds per-task memory
    (~3 tile-sized float64 temporaries: matmul result, outer of norms,
    quotient). The arithmetic is kept in the un-tiled form's order (divide
    by the outer product, THEN round): pre-normalizing rows would be
    cheaper but changes the IEEE op order and risks knife-edge flips in
    the 4th decimal the oracle hash would catch."""
    import numpy as np

    anorm = np.linalg.norm(amat, axis=1)
    bnorm = np.linalg.norm(bmat, axis=1)
    for s in range(0, len(amat), rows):
        for t in range(0, len(bmat), cols):
            sa, sb = slice(s, s + rows), slice(t, t + cols)
            c4 = np.floor(
                (amat[sa] @ bmat[sb].T) / np.outer(anorm[sa], bnorm[sb]) * 1e4 + 0.5
            )
            yield sa, sb, c4


def _sq_dist(v, c):
    # squared Euclidean distance, the same HOF fold as _dot
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sql_sq_dist(v: str, c: str, dims: int) -> str:
    # DuckDB twin of _sq_dist: a left-fold of per-dim squared deltas seeded
    # by the first element — bit-equal to Spark's aggregate(zip_with(...),
    # 0.0, +) fold (adding the 0.0 seed is IEEE-exact for the non-negative
    # first square)
    return (
        f"list_reduce([({v}[i+1] - {c}[i+1]) * ({v}[i+1] - {c}[i+1]) "
        f"FOR i IN range({dims})], (x, y) -> x + y)"
    )


# --- q40: brute-force cosine top-k ----------------------------------------

_Q40_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < {_N_QUERIES}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
c AS (
  SELECT qid, vec_id,
         {sql_round4(_sql_cosine('qe', 'embedding'))} AS cosine
  FROM q JOIN e ON vec_id != qid
)
SELECT qid, vec_id, cosine,
       row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
FROM c
QUALIFY rk <= {_K}
"""


@register("q40_cosine_topk", _Q40_ORACLE, "brute-force cosine top-k ANN baseline")
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    joined = F.broadcast(q).crossJoin(e).filter(F.col("vec_id") != F.col("qid"))
    cosine = round4(_cosine(F.col("qe"), F.col("embedding")))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        joined.select("qid", "vec_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _K)
    )


# --- q41: label centroid classification -----------------------------------

_Q41_ORACLE = """
SELECT label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) / 1000000.0 AS mean_dim0,
       CAST(sum(CAST(round(CAST(embedding[33] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) / 1000000.0 AS mean_dim32
FROM embeddings GROUP BY label
"""


@register("q41_label_centroids", _Q41_ORACLE, "per-label centroid components (vector agg)")
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    # centroid means computed through micro-unit integers: exact, associative,
    # engine-independent (float sums would be summation-order-dependent)
    e = load(spark, sf_dir, "embeddings")

    def mean_dim(i: int, alias: str):
        s = F.sum(F.round(F.col("embedding")[i].cast("double") * 1000000).cast("long"))
        return (s.cast("double") / F.count(F.lit(1)).cast("double") / F.lit(1000000.0)).alias(alias)

    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), mean_dim(0, "mean_dim0"), mean_dim(32, "mean_dim32")
    )


# --- q42: LSH-bucketed ANN (random hyperplane signs) ----------------------

_N_PLANES = 8
_DIMS = 64


def _plane_component(i: int, p: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1) for
    (dim i, plane p), derived from sha256 — computed ONCE in Python and
    inlined as literals in BOTH plans (Spark and the DuckDB oracle), so the
    bucketing is engine-portable and costs zero per-row hash work (the old
    form re-hashed 64x8 values per row inside an interpreted lambda)."""
    import hashlib

    h = int.from_bytes(hashlib.sha256(f"{i}|{p}".encode()).digest()[:6], "big")
    return (h % 10007) / 5003.5 - 1.0


_PLANES = [[_plane_component(i, p) for i in range(_DIMS)] for p in range(_N_PLANES)]


def _sign_bit_spark(p: int):
    """One plane's bucket bit: a 64-term dot product against literal
    components (strict left-to-right addition — the same IEEE op order as
    the SQL mirror, so the sign agrees bit-for-bit). Built as ONE
    F.expr(sql-string) call: composing 512 Column objects operator-by-
    operator costs ~3000 py4j round-trips of DRIVER time per query build
    (~4s — dwarfing the actual execution), while a generated SQL string is
    a single call. The .25f literal format round-trips every double in
    [-1,1) exactly, so both engines reconstruct bit-identical planes."""
    dot = " + ".join(
        f"CAST(embedding[{i}] AS DOUBLE) * {_PLANES[p][i]:.25f}D" for i in range(_DIMS)
    )
    return F.expr(f"CASE WHEN ({dot}) >= 0.0 THEN {2 ** p} ELSE 0 END")


def _sign_bucket_sql() -> str:
    per_plane = []
    for p in range(_N_PLANES):
        dot = " + ".join(f"emb[{i + 1}] * {_PLANES[p][i]:.25f}" for i in range(_DIMS))
        per_plane.append(f"(CASE WHEN ({dot}) >= 0 THEN {2 ** p} ELSE 0 END)")
    return " + ".join(per_plane)


_Q42_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT label) AS BIGINT) AS n_labels
FROM (SELECT vec_id, label, CAST({_sign_bucket_sql()} AS BIGINT) AS bucket FROM e)
GROUP BY bucket
"""


@register("q42_lsh_ann", _Q42_ORACLE, "sign-LSH bucketed ANN candidates")
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-style bucketing: sign of dot(v, h_p) for deterministic
    pseudo-random hyperplanes → 8-bit bucket id; ANN search only compares
    vectors within a bucket. The 100 TB scale path for q40: the crossJoin
    N×Q collapses to per-bucket joins. Hyperplanes are literal constants
    (see _plane_component), making the bucketing oracle-checkable.
    """
    e = spread(load(spark, sf_dir, "embeddings"))
    # one column per plane bit, combined AFTER the aggregate: the bits are
    # bit-disjoint so grouping on them == grouping on the bucket, and the
    # HashAggregate boundary stops CollapseProject from re-fusing the eight
    # expressions into one un-codegen-able 512-term projection
    bits = [_sign_bit_spark(p).alias(f"_b{p}") for p in range(_N_PLANES)]
    buckets = e.select("label", *bits)
    bit_cols = [f"_b{p}" for p in range(_N_PLANES)]
    return (
        buckets.groupBy(*bit_cols)
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.countDistinct("label").alias("n_labels"))
        .select(
            sum([F.col(c) for c in bit_cols], F.lit(0)).cast("long").alias("bucket"),
            "n_vectors",
            "n_labels",
        )
    )


# --- q45: embedding-cosine near-duplicate pairs ---------------------------

_NEAR_T = 0.35  # sf data has no planted dups; 0.35 catches the similarity tail

_Q45_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)
SELECT * FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {sql_round4(_sql_cosine('a.embedding', 'b.embedding'))} AS cosine,
         CAST(a.label = b.label AS BIGINT) AS same_label
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
WHERE cosine >= {_NEAR_T}
"""


_N_BLOCKS = 8
_Q45_TILE = 4096  # strip width of the tiled block-pair matmul (see q45)


@register("q45_cosine_neardup", _Q45_ORACLE, "embedding-cosine near-dup pair mining")
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine near-dup mining as a BLOCK-PARTITIONED join: rows
    hash into _N_BLOCKS blocks by vec_id; every unordered block pair (i,j)
    becomes one applyInPandas group whose kernel scores the (|i|,|j|)
    sub-matrix in numpy matmul tiles (the dense-linalg exception
    documented at cosine4_tiles). Nothing touches the driver and
    no task holds more than two blocks — replication factor is _N_BLOCKS
    (≈2·sqrt(tasks)), the standard distributed exact all-pairs layout, so
    the operator scales out instead of OOMing the driver (the previous
    form collect()ed the whole table into the task closure). For
    high-threshold near-dup at 100 TB, q42's LSH buckets replace the
    all-pairs block grid entirely.

    Exactness: scores are floor(dot/(na·nb)·1e4+0.5)/1e4, see
    cosine4_tiles."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    block_pairs = F.array(
        *[
            F.struct(F.lit(i).alias("bi"), F.lit(j).alias("bj"))
            for i in range(_N_BLOCKS)
            for j in range(i, _N_BLOCKS)
        ]
    )
    rep = (
        e.withColumn("blk", F.pmod("vec_id", F.lit(_N_BLOCKS)).cast("int"))
        .withColumn(
            "bp",
            F.explode(
                F.filter(
                    block_pairs,
                    lambda s: (s["bi"] == F.col("blk")) | (s["bj"] == F.col("blk")),
                )
            ),
        )
        .select("vec_id", "label", "embedding", "blk", "bp.bi", "bp.bj")
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
            T.StructField("same_label", T.LongType()),
        ]
    )
    empty = pd.DataFrame(
        {
            "vec_a": np.array([], dtype=np.int64),
            "vec_b": np.array([], dtype=np.int64),
            "cosine": np.array([], dtype=np.float64),
            "same_label": np.array([], dtype=np.int64),
        }
    )

    # the score matrix is evaluated in fixed _Q45_TILE×_Q45_TILE tiles: a whole
    # (|i|,|j|) cosine matrix is quadratic in the BLOCK size, and with a
    # fixed block COUNT the block size grows linearly with N — at the 100×
    # scale step (200k vectors, 25k-row blocks) one un-tiled block pair is
    # a 5 GB float64 matrix and 32 concurrent tasks OOMed a 48 GB heap's
    # whole box. Tiling pins per-task transient memory at a CONSTANT
    # (~400 MB at 4096, see cosine4_tiles) at ANY data scale; only the
    # linear row payload grows.
    _TILE = _Q45_TILE  # captured at q45() build time into the kernel closure
    # (patch the module global BEFORE calling q45 — tests do)

    def score_block_pair(key, pdf):
        i, j = key
        a = pdf[pdf["blk"] == i]
        b = pdf[pdf["blk"] == j]
        if a.empty or b.empty:
            return empty
        a_ids = a["vec_id"].to_numpy(dtype=np.int64)
        b_ids = b["vec_id"].to_numpy(dtype=np.int64)
        amat = np.array(list(a["embedding"]), dtype=np.float64)
        bmat = np.array(list(b["embedding"]), dtype=np.float64)
        a_lab_all = a["label"].to_numpy()
        b_lab_all = b["label"].to_numpy()
        outs = []
        for sa, sb, c4 in cosine4_tiles(amat, bmat, _TILE, _TILE):
            cos = c4 / 1e4
            mask = cos >= _NEAR_T
            if i == j:  # same block: each unordered pair once
                mask &= a_ids[sa][:, None] < b_ids[sb][None, :]
            ia, ib = np.nonzero(mask)
            if not len(ia):
                continue
            ga, gb = a_ids[sa][ia], b_ids[sb][ib]
            outs.append(
                pd.DataFrame(
                    {
                        "vec_a": np.minimum(ga, gb),
                        "vec_b": np.maximum(ga, gb),
                        "cosine": cos[ia, ib],
                        "same_label": (a_lab_all[sa][ia] == b_lab_all[sb][ib]).astype(np.int64),
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return rep.groupBy("bi", "bj").applyInPandas(score_block_pair, out_schema)


# --- q46: IVF-style ANN (centroid cells, 1 probe) -------------------------


def _centroids(e: DataFrame) -> DataFrame:
    """Per-label exact micro-unit integer means of the embeddings, built
    in one F.expr call (see _sign_bit_spark on why: per-Column py4j
    composition costs seconds of driver time)."""
    terms = ", ".join(
        f"CAST(SUM(CAST(ROUND(CAST(embedding[{i}] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)"
        f" / CAST(COUNT(1) AS DOUBLE) / 1000000.0"
        for i in range(_DIMS)
    )
    return e.groupBy("label").agg(F.expr(f"ARRAY({terms})").alias("centroid"))


def _sql_centroid_terms() -> str:
    return ", ".join(
        f"CAST(sum(CAST(round(emb[{i + 1}] * 1000000) AS BIGINT)) AS DOUBLE)"
        f" / CAST(count(*) AS DOUBLE) / 1000000.0"
        for i in range(_DIMS)
    )


_Q46_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cents AS (
  SELECT label AS cell, list_value({_sql_centroid_terms()}) AS centroid
  FROM e GROUP BY label
),
q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < {_N_QUERIES}),
probe AS (
  SELECT qid, qe, cell FROM (
    SELECT qid, qe, cell,
           row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cell) AS prk
    FROM (
      SELECT q.qid, q.qe, c.cell,
             {sql_round4(_sql_cosine('qe', 'centroid'))} AS ccos
      FROM q CROSS JOIN cents c))
  WHERE prk = 1
)
SELECT qid, cell, vec_id, cosine,
       row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
FROM (
  SELECT p.qid, p.cell, e.vec_id,
         {sql_round4(_sql_cosine('p.qe', 'e.emb'))} AS cosine
  FROM probe p JOIN e ON e.label = p.cell AND e.vec_id != p.qid)
QUALIFY rk <= {_K}
"""


@register("q46_ivf_ann", _Q46_ORACLE, "IVF 1-probe ANN via label-centroid cells")
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-file ANN: coarse quantizer = per-label centroids (exact
    micro-unit integer means — associative and engine-portable, so the
    oracle reproduces them bit-for-bit; a stand-in for k-means on data
    that ships labels); each query probes its nearest centroid's cell only,
    then exact cosine top-k within the cell. At 100 TB the fact table is
    pre-partitioned by cell id, so a 1-probe search touches 1/K of the data
    with zero shuffle; q40 is the exact-recall baseline for comparison.
    The probe score is round4'd with a deterministic cell tie-break, so the
    probed cell is engine-independent."""
    e = spread(load(spark, sf_dir, "embeddings"))
    cents = _centroids(e)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    qc = q.crossJoin(F.broadcast(cents.select(F.col("label").alias("cell"), "centroid")))
    ccos = round4(_cosine(F.col("qe"), F.col("centroid")))
    wq = Window.partitionBy("qid").orderBy(F.col("ccos").desc(), "cell")
    probe = (
        qc.select("qid", "qe", "cell", ccos.alias("ccos"))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") == 1)
        .select("qid", "qe", "cell")
    )
    cand = F.broadcast(probe).join(e, (F.col("label") == F.col("cell"))).filter(
        F.col("vec_id") != F.col("qid")
    )
    cosine = round4(_cosine(F.col("qe"), F.col("embedding")))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        cand.select("qid", "cell", "vec_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _K)
    )


# --- q80: ANN recall evaluation (IVF vs exact baseline) --------------------
#
# The index-quality report every ANN deployment runs: per query vector,
# recall@k of the 1-probe IVF search (q46) against the exact brute-force
# top-k (q40). This is the feedback loop that tunes nlist/nprobe before a
# 100 TB index build — and it is pure composition: both sides are the
# registry's own (already oracle-checked) plans, joined on (qid, vec_id).
# The oracle nests both queries' SQL verbatim as CTEs, so the measurement
# itself is hash-checked cross-engine.

_Q80_ORACLE = f"""
WITH exact_tk AS ({_Q40_ORACLE}),
approx_tk AS ({_Q46_ORACLE}),
hits AS (
  SELECT a.qid, CAST(count(*) AS BIGINT) AS n_hit
  FROM approx_tk a JOIN exact_tk e ON e.qid = a.qid AND e.vec_id = a.vec_id
  GROUP BY a.qid
),
ex AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact FROM exact_tk GROUP BY qid)
SELECT ex.qid, ex.n_exact,
       coalesce(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
       {sql_round4('CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(ex.n_exact AS DOUBLE)')}
         AS recall
FROM ex LEFT JOIN hits h USING (qid)
"""


@register("q80_ann_recall", _Q80_ORACLE, "recall@k of IVF ANN vs exact cosine baseline")
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE: deliberately NOT checkpointed — exact feeds two consumers, but
    # both reads land in one job whose stages share the scan; measured at
    # sf0.1, cutting lineage here serializes the pipelines and LOSES ~0.4s
    exact = q40(spark, sf_dir).select("qid", "vec_id")
    approx = q46(spark, sf_dir).select("qid", "vec_id")
    hits = (
        approx.join(exact, ["qid", "vec_id"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    ex = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact"))
    zero = F.lit(0).cast("long")
    recall = round4(
        F.coalesce(F.col("n_hit"), zero).cast("double") / F.col("n_exact").cast("double")
    )
    return ex.join(hits, "qid", "left").select(
        "qid",
        "n_exact",
        F.coalesce(F.col("n_hit"), zero).alias("n_hit"),
        recall.alias("recall"),
    )
