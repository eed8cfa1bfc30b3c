"""Tranche 15: lakehouse-maintenance and optimizer primitives, hash-checked.

Four operators a table format / cost-based optimizer needs that are not
query answers themselves but ENGINE machinery — each expressed as a
deterministic DataFrame plan with a DuckDB value-hash mirror:

q188 compaction-bin planner: the OPTIMIZE/small-file-compaction step of a
lakehouse table service. The file manifest (here: (source, lang) document
partitions with their byte weights) is sorted by size descending and
assigned to output bins by cumulative fill (bin = prefix-sum-before DIV
target) — the deterministic "sorted fill" relaxation of first-fit-
decreasing that IS expressible as one window pass in any engine. The
planner runs over file METADATA (one row per file), never file contents:
at 100 TB the manifest is millions of rows of a few columns — the single
ordered window is a metadata-scale operation, the same asymmetry that
lets real table services plan compaction on one node.

q189 join-size estimate from two Count-Min sketches: |A JOIN B on k| =
sum_k cntA(k)*cntB(k), estimated as min over hash rows of the sketch
row inner product (Cormode-Muthukrishnan; one-sided overestimate from
collision cross-terms). The two sketches build independently — each is
one map-side-combinable count with d*w output rows — so the estimator
never touches the join itself: this is how a CBO prices a join it has
not executed. The exact side (for the audit) is a per-key count + join,
also shuffle-minimal.

q190 join-order advisor: the System-R arithmetic made visible. For the
filtered chain customer - sigma(orders) - lineitem it computes table
stats (row counts, per-key NDVs, predicate selectivity) in one stats
pass, prices both left-deep orders with the textbook estimate
|A JOIN B| = |A|*|B| DIV max(ndv_A, ndv_B) (integer floor division —
cross-engine exact), and emits est-vs-true intermediates per order with
the chosen rank. At 100 TB the stats pass is the only data touch; the
enumeration is O(plans) driver-free arithmetic.

q191 Merkle table checksum: content-addressable integrity for a
distributed snapshot. Each row folds to a sha256 fingerprint of its
canonical encoding (integer cents for money, ISO dates, explicit null
sentinel); rows bucket by fingerprint prefix (256 ways); each bucket
digests its SORTED fingerprints; the root digests the bucket digests in
bucket order. Layout- and order-independent by construction — the same
logical table hashes identically from any partitioning, which is the
property a snapshot diff / replication verifier needs. At 100 TB the
per-bucket digests are distributed partial aggregates; only 256 digests
cross the final exchange.

Scale notes (100 TB): q188 windows over metadata, not data; q189/q190
are sketch/stats passes with constant-size outputs; q191's only global
step reduces 256 rows. No driver collects, no Python UDFs, no all-pairs.

Reference parity: none — the reference engine has no table service or
CBO; this tranche is beyond-reference engine surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load, register, round4, spread, sql_round4
from .sketches import cms_sketch, sql_cms_sketch

# --- q188: compaction-bin planner (sorted-fill bin packing) -----------------

_BIN_TARGET = 16_384  # target compacted-file chars; ~10 bins at sf0.001


_Q188_ORACLE = f"""
WITH files AS (
  SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS file_bytes,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source, lang
),
placed AS (
  SELECT *,
         coalesce(sum(file_bytes) OVER (
           ORDER BY file_bytes DESC, source, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {_BIN_TARGET} AS bin_id
  FROM files
)
SELECT CAST(bin_id AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(file_bytes) AS BIGINT) AS bin_bytes,
       CAST(max(file_bytes) AS BIGINT) AS largest_file,
       {sql_round4(f'sum(file_bytes) / {_BIN_TARGET}.0')} AS fill_ratio
FROM placed GROUP BY bin_id
"""


@register(
    "q188_compaction_bins",
    _Q188_ORACLE,
    "small-file compaction planner: sorted-fill bin packing over the file manifest",
)
def q188(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-fill compaction plan: files (here (source, lang) partitions
    weighted by chars) sorted by size desc, bin = exclusive-prefix-sum DIV
    target. One window over the manifest — metadata-scale regardless of
    table size; the report shows per-bin fill so a table service can gate
    actual rewrites on fill_ratio."""
    files = (
        load(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.sum("n_chars").cast("long").alias("file_bytes"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )
    w = (
        Window.orderBy(F.desc("file_bytes"), "source", "lang")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = files.withColumn(
        "bin_id",
        F.floor(
            F.coalesce(F.sum("file_bytes").over(w), F.lit(0)) / F.lit(_BIN_TARGET)
        ).cast("long"),
    )
    return placed.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("file_bytes").cast("long").alias("bin_bytes"),
        F.max("file_bytes").cast("long").alias("largest_file"),
        round4(F.sum("file_bytes") / F.lit(float(_BIN_TARGET))).alias("fill_ratio"),
    )


# --- q189: CMS inner-product join-size estimate ------------------------------

_Q189_ORACLE = f"""
WITH se AS ({sql_cms_sketch('events', 'user_id')}),
so AS ({sql_cms_sketch('orders', 'o_custkey')}),
est AS (
  SELECT min(ip) AS cms_join_size
  FROM (SELECT se.hj, sum(se.cnt * so.cnt) AS ip
        FROM se JOIN so ON se.hj = so.hj AND se.bucket = so.bucket
        GROUP BY se.hj)
),
exact AS (
  SELECT CAST(sum(ce * co) AS BIGINT) AS exact_join_size
  FROM (SELECT user_id AS k, count(*) AS ce FROM events GROUP BY user_id) a
  JOIN (SELECT o_custkey AS k, count(*) AS co FROM orders GROUP BY o_custkey) b
    USING (k)
)
SELECT exact_join_size,
       CAST(cms_join_size AS BIGINT) AS cms_join_size,
       CAST(cms_join_size - exact_join_size AS BIGINT) AS overshoot,
       {sql_round4('(cms_join_size - exact_join_size) / CAST(exact_join_size AS DOUBLE)')}
         AS rel_overshoot
FROM est CROSS JOIN exact
"""


@register(
    "q189_join_size_estimate",
    _Q189_ORACLE,
    "join cardinality priced from two CMS sketches (row inner product) vs exact",
)
def q189(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|events JOIN orders ON user_id = o_custkey| estimated WITHOUT
    executing the join: min over hash rows of the sketch inner product.
    Each sketch is one map-side-combinable count (d*w rows); the estimate
    is arithmetic on 2*d*w numbers — constant cost at any input size.
    The exact audit side is per-key counts joined on the key.

    The sketches build FROM the per-key counts the exact audit needs
    anyway (checkpointed, one scan per table): cnt(j, bucket) = Σ over
    keys hashing there of that key's row count — identical to hashing
    every row, but the d sha256 evaluations run once per DISTINCT key
    instead of once per row (guide §2.3 aggregate-first; the before-plan
    scanned each table twice and hashed the full row stream). Measured
    at sf0.1 (interleaved, 6 pairs): 2.04 → 1.29 s min."""

    def key_counts(df: DataFrame, key: str) -> DataFrame:
        return (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("kc"))
            .localCheckpoint(eager=False)
        )

    ec = key_counts(load(spark, sf_dir, "events").select("user_id"), "user_id")
    oc = key_counts(load(spark, sf_dir, "orders").select("o_custkey"), "o_custkey")
    se = cms_sketch(ec, "user_id", "kc")
    so = cms_sketch(oc, "o_custkey", "kc")
    est = (
        se.alias("a")
        .join(so.alias("b"), ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("ip"))
        .agg(F.min("ip").alias("cms_join_size"))
    )
    exact = (
        ec.withColumnRenamed("kc", "ce")
        .join(
            oc.withColumnRenamed("kc", "co"),
            F.col("user_id") == F.col("o_custkey"),
        )
        .agg(F.sum(F.col("ce") * F.col("co")).cast("long").alias("exact_join_size"))
    )
    return est.crossJoin(exact).select(
        "exact_join_size",
        F.col("cms_join_size").cast("long").alias("cms_join_size"),
        (F.col("cms_join_size") - F.col("exact_join_size"))
        .cast("long")
        .alias("overshoot"),
        round4(
            (F.col("cms_join_size") - F.col("exact_join_size"))
            / F.col("exact_join_size").cast("double")
        ).alias("rel_overshoot"),
    )


# --- q190: System-R join-order advisor ---------------------------------------

_Q190_ORACLE = """
WITH stats AS (
  SELECT
    (SELECT count(*) FROM customer) AS nc,
    (SELECT count(DISTINCT c_custkey) FROM customer) AS ndv_c,
    (SELECT count(*) FROM orders WHERE o_orderstatus = 'F') AS nof,
    (SELECT count(DISTINCT o_custkey) FROM orders WHERE o_orderstatus = 'F') AS ndv_oc,
    (SELECT count(DISTINCT o_orderkey) FROM orders WHERE o_orderstatus = 'F') AS ndv_ok,
    (SELECT count(*) FROM lineitem) AS nl,
    (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS ndv_lk
),
truth AS (
  SELECT
    (SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderstatus = 'F') AS true_oc,
    (SELECT count(*) FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F') AS true_ol
),
est AS (
  SELECT
    (nc * nof) // greatest(ndv_c, ndv_oc) AS est_oc,
    (nof * nl) // greatest(ndv_ok, ndv_lk) AS est_ol,
    ((nc * nof) // greatest(ndv_c, ndv_oc) * nl) // greatest(ndv_ok, ndv_lk)
      AS est_final_a,
    ((nof * nl) // greatest(ndv_ok, ndv_lk) * nc) // greatest(ndv_c, ndv_oc)
      AS est_final_b
  FROM stats
),
plans AS (
  SELECT '(customer x orders) x lineitem' AS join_order,
         CAST(est_oc AS BIGINT) AS est_intermediate,
         CAST(true_oc AS BIGINT) AS true_intermediate,
         CAST(est_oc + est_final_a AS BIGINT) AS est_cost
  FROM est CROSS JOIN truth
  UNION ALL
  SELECT '(orders x lineitem) x customer',
         CAST(est_ol AS BIGINT), CAST(true_ol AS BIGINT),
         CAST(est_ol + est_final_b AS BIGINT)
  FROM est CROSS JOIN truth
)
SELECT join_order, est_intermediate, true_intermediate, est_cost,
       CAST(rank() OVER (ORDER BY est_cost, join_order) AS BIGINT) AS cost_rank
FROM plans
"""


@register(
    "q190_join_order_advisor",
    _Q190_ORACLE,
    "System-R left-deep join-order pricing from one stats pass, est vs true",
)
def q190(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CBO arithmetic as a query: one stats pass (row counts + key
    NDVs + predicate selectivity folded in by computing stats on the
    filtered orders), then |A JOIN B| = |A|*|B| DIV max(ndv_A, ndv_B) for
    both left-deep orders of customer - sigma(orders) - lineitem. Integer
    floor division keeps the estimate cross-engine exact. The true
    intermediates are the audit; rank 1 is the order a CBO would pick.
    Stats are tiny aggregates — the only data touch at any scale."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")

    stats = (
        c.agg(
            F.count(F.lit(1)).alias("nc"),
            F.countDistinct("c_custkey").alias("ndv_c"),
        )
        .crossJoin(
            o.agg(
                F.count(F.lit(1)).alias("nof"),
                F.countDistinct("o_custkey").alias("ndv_oc"),
                F.countDistinct("o_orderkey").alias("ndv_ok"),
            )
        )
        .crossJoin(
            li.agg(
                F.count(F.lit(1)).alias("nl"),
                F.countDistinct("l_orderkey").alias("ndv_lk"),
            )
        )
    )
    truth = (
        o.join(c, o.o_custkey == c.c_custkey)
        .agg(F.count(F.lit(1)).alias("true_oc"))
        .crossJoin(
            o.join(li, o.o_orderkey == li.l_orderkey).agg(
                F.count(F.lit(1)).alias("true_ol")
            )
        )
    )
    s = stats.crossJoin(truth).select(
        "*",
        F.expr("(nc * nof) div greatest(ndv_c, ndv_oc)").alias("est_oc"),
        F.expr("(nof * nl) div greatest(ndv_ok, ndv_lk)").alias("est_ol"),
    )
    s = s.select(
        "*",
        F.expr("(est_oc * nl) div greatest(ndv_ok, ndv_lk)").alias("est_final_a"),
        F.expr("(est_ol * nc) div greatest(ndv_c, ndv_oc)").alias("est_final_b"),
    )
    plans = s.select(
        F.lit("(customer x orders) x lineitem").alias("join_order"),
        F.col("est_oc").cast("long").alias("est_intermediate"),
        F.col("true_oc").cast("long").alias("true_intermediate"),
        (F.col("est_oc") + F.col("est_final_a")).cast("long").alias("est_cost"),
    ).unionByName(
        s.select(
            F.lit("(orders x lineitem) x customer").alias("join_order"),
            F.col("est_ol").cast("long").alias("est_intermediate"),
            F.col("true_ol").cast("long").alias("true_intermediate"),
            (F.col("est_ol") + F.col("est_final_b")).cast("long").alias("est_cost"),
        )
    )
    w = Window.orderBy("est_cost", "join_order")
    return plans.select("*", F.rank().over(w).cast("long").alias("cost_rank"))


# --- q191: Merkle table checksum ---------------------------------------------

_NULL_SENTINEL = "␀"  # SYMBOL FOR NULL — never appears in fixture data


def _canon(col, is_money: bool = False):
    c = F.col(col)
    if is_money:
        c = F.round(c * 100).cast("long")
    return F.coalesce(c.cast("string"), F.lit(_NULL_SENTINEL))


_Q191_ORACLE = f"""
WITH rows_fp AS (
  SELECT sha256(
           coalesce(CAST(o_orderkey AS VARCHAR), '{_NULL_SENTINEL}') || '|' ||
           coalesce(CAST(o_custkey AS VARCHAR), '{_NULL_SENTINEL}') || '|' ||
           coalesce(o_orderstatus, '{_NULL_SENTINEL}') || '|' ||
           coalesce(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                    '{_NULL_SENTINEL}') || '|' ||
           coalesce(CAST(o_orderdate AS VARCHAR), '{_NULL_SENTINEL}') || '|' ||
           coalesce(o_orderpriority, '{_NULL_SENTINEL}')
         ) AS fp
  FROM orders
),
buckets AS (
  SELECT (strpos('0123456789abcdef', substring(fp, 1, 1)) - 1) * 16
         + strpos('0123456789abcdef', substring(fp, 2, 1)) - 1 AS bucket,
         fp
  FROM rows_fp
),
bucket_digests AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         sha256(string_agg(fp, '' ORDER BY fp)) AS digest
  FROM buckets GROUP BY bucket
)
SELECT sha256(string_agg(digest, '' ORDER BY bucket)) AS root_hash,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_buckets
FROM bucket_digests
"""


@register(
    "q191_merkle_checksum",
    _Q191_ORACLE,
    "order/layout-independent Merkle checksum of a table snapshot",
)
def q191(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable snapshot digest: row fingerprints (canonical
    encoding: integer cents, ISO dates, explicit null sentinel) bucket by
    their first hex byte; buckets digest their sorted fingerprints; the
    root digests bucket digests in bucket order. Independent of row order
    and partitioning by construction — the equality primitive for
    replication verification and snapshot diff. The per-bucket digest is
    a distributed aggregate; only 256 digests reach the final reduce."""
    fp = F.sha2(
        F.concat_ws(
            "|",
            _canon("o_orderkey"),
            _canon("o_custkey"),
            _canon("o_orderstatus"),
            _canon("o_totalprice", is_money=True),
            _canon("o_orderdate"),
            _canon("o_orderpriority"),
        ),
        256,
    )
    rows_fp = spread(load(spark, sf_dir, "orders")).select(fp.alias("fp"))
    buckets = rows_fp.select(
        F.conv(F.substring("fp", 1, 2), 16, 10).cast("long").alias("bucket"), "fp"
    )
    bucket_digests = buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sha2(F.array_join(F.array_sort(F.collect_list("fp")), ""), 256).alias(
            "digest"
        ),
    )
    return (
        bucket_digests.select(F.struct("bucket", "n_rows", "digest").alias("s"))
        .agg(F.array_sort(F.collect_list("s")).alias("arr"))
        .select(
            F.sha2(
                F.array_join(F.transform("arr", lambda x: x["digest"]), ""), 256
            ).alias("root_hash"),
            F.aggregate(
                "arr", F.lit(0).cast("long"), lambda acc, x: acc + x["n_rows"]
            ).alias("n_rows"),
            F.size("arr").cast("long").alias("n_buckets"),
        )
    )
