"""Engine-portable probabilistic sketches, written once per engine.

Count-Min, Bloom and HyperLogLog on the shared sha256-prefix hash family
(`sha_int`): a sketch built from a deterministic hash is a pure function of
its input, so the DuckDB text here reproduces the Catalyst sketch bit for
bit and every estimate is value-hash-checked (q58, q181-q183, q187, q189,
q196).

HyperLogLog's register and estimate steps are separate so that registers
can be max-merged between them (q196's sliding window): partial
aggregation IS sketch union.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import sha_int, sql_sha_int

HLL_M = 64  # registers (p=6); alpha_64 = 0.709 (Flajolet et al. 2007)
CMS_D = 4  # hash rows
CMS_W = 64  # buckets per row (undersized on purpose: collisions are the test)


# --- keyed hash: hash row j of a key into [0, m) ---------------------------


def keyed_hash(j: int, key: Column, m: int) -> Column:
    """sha_int(j || '|' || key) % m — the hash family of Count-Min and Bloom."""
    return sha_int(F.concat_ws("|", F.lit(str(j)), key.cast("string"))) % m


# NB: the hash-row variable is `hj`, NOT `j` — sql_sha_int expands to a
# DuckDB list comprehension whose loop variable is `j`, which would shadow
# an outer column named `j` inside the hash expression (observed: silently
# wrong buckets, ~9% FP where ~1% is correct).
def sql_keyed_hash(key: str, m: int) -> str:
    return sql_sha_int(f"CAST(hj AS VARCHAR) || '|' || CAST({key} AS VARCHAR)") + f" % {m}"


def sql_hash_rows(d: int) -> str:
    """The hash-row relation `hj` in [0, d), to CROSS JOIN with the keys."""
    return f"(SELECT unnest(range({d})) AS hj)"


# --- Count-Min --------------------------------------------------------------


def cms_buckets(key: Column) -> Column:
    """(j, bucket) pairs for one key — the d CMS hash rows."""
    return F.array(
        *[
            F.struct(F.lit(j).alias("j"), keyed_hash(j, key, CMS_W).alias("bucket"))
            for j in range(CMS_D)
        ]
    )


def cms_sketch(counts: DataFrame, key: str, cnt: str) -> DataFrame:
    """(j, bucket, cnt) from per-key row counts: cnt(j, bucket) sums the
    counts of the keys hashing there, identical to hashing every row, with
    the d sha256 hashes run once per DISTINCT key."""
    return (
        counts.select(F.explode(cms_buckets(F.col(key))).alias("jb"), cnt)
        .select("jb.j", "jb.bucket", cnt)
        .groupBy("j", "bucket")
        .agg(F.sum(cnt).alias("cnt"))
    )


def sql_cms_sketch(table: str, key: str) -> str:
    """(hj, bucket, cnt), hashing every row of `table`."""
    return f"""
  SELECT hj, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT {key}, hj, {sql_keyed_hash(key, CMS_W)} AS bucket
        FROM {table} CROSS JOIN {sql_hash_rows(CMS_D)})
  GROUP BY hj, bucket"""


# --- HyperLogLog ------------------------------------------------------------


def hll_registers(df: DataFrame, group: str, key: str) -> DataFrame:
    """(group, idx, mreg): register idx = hv % m keeps the max rho, the
    leading-zero rank of the 42-bit suffix hv div m. Duplicate keys cannot
    change max(rho), so `df` may be the distinct (group, key) pairs."""
    hv = sha_int(F.col(key).cast("string"))
    # rho via binary-string length — integer ops only, no libm log2
    r = df.select(group, hv.alias("hv")).select(
        group,
        (F.col("hv") % HLL_M).alias("idx"),
        F.when(F.expr(f"hv div {HLL_M}") == 0, F.lit(43))
        .otherwise(
            F.lit(43) - F.length(F.conv(F.expr(f"CAST(hv div {HLL_M} AS STRING)"), 10, 2))
        )
        .alias("rho"),
    )
    return r.groupBy(group, "idx").agg(F.max("rho").alias("mreg"))


def hll_estimate(registers: DataFrame, group: str) -> DataFrame:
    """(group, n_regs_hit, hll_est), the raw estimate (the small-range
    linear-counting correction needs ln(), which is not correctly rounded
    across engines)."""
    # sum of 2^-M terms: each is dyadic with denominator 2^43, so the sum
    # fits 49 mantissa bits — exact under any partial-agg order
    inv = F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), mreg)")
    return registers.groupBy(group).agg(
        F.count(F.lit(1)).cast("long").alias("n_regs_hit"),
        (
            F.lit(0.709)
            * F.lit(float(HLL_M * HLL_M))
            / (F.sum(inv) + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1.0))
        ).alias("hll_est"),
    )


def sql_hll_registers(table: str, group: str, key: str) -> str:
    return f"""
  SELECT {group}, idx, max(rho) AS mreg
  FROM (SELECT {group}, hv % {HLL_M} AS idx,
               CASE WHEN hv // {HLL_M} = 0 THEN 43
                    ELSE 43 - length(bin(hv // {HLL_M})) END AS rho
        FROM (SELECT {group}, {sql_sha_int(f'CAST({key} AS VARCHAR)')} AS hv
              FROM {table}))
  GROUP BY {group}, idx"""


def sql_hll_estimate(table: str, group: str) -> str:
    return f"""
  SELECT {group},
         CAST(count(*) AS BIGINT) AS n_regs_hit,
         0.709 * {HLL_M * HLL_M}.0
           / (sum(1.0 / (CAST(1 AS BIGINT) << mreg))
              + ({HLL_M} - count(*)) * 1.0) AS hll_est
  FROM {table} GROUP BY {group}"""
