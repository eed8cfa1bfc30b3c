"""Declarative data-quality expectations, compiled into ONE aggregate pass.

The Deequ/Great-Expectations capability re-expressed Spark-first: a check
suite is a list of small declarative specs; `compile_suite` turns the
whole suite into a single `agg()` over conditional-count expressions, so
N checks over a 100 TB table cost one scan with map-side partials — never
one job per check. The wide one-row result is exploded back into a tidy
(check_name, col_name, n_rows, n_violations, passed) frame, still lazily.

Check kinds (each is a pure column predicate, JVM-side, codegen'd):
  not_null        — violation := column IS NULL
  unique          — violations := n_rows - approx-free exact distinct count
  accepted_values — violation := value not in the allowed set (nulls pass)
  in_range        — violation := value outside [lo, hi] (nulls pass)
  non_negative    — violation := value < 0
  matches         — violation := string fails the anchored regex (nulls pass)

`unique` is the one check that can't be a row predicate; it compiles to a
count_distinct in the same agg (Spark plans multi-distinct aggs via one
Expand — still a single scan, the q136 column-profile shape).

Reference parity: none (the reference has no constraint checking); this
is beyond-reference engine surface for pipeline admission control.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    name: str
    column: str
    kind: str
    # kind-specific parameters: accepted_values -> values, in_range -> lo/hi,
    # matches -> pattern
    values: tuple = ()
    lo: float | None = None
    hi: float | None = None
    pattern: str | None = None


def _violation_expr(c: Check) -> Column:
    col = F.col(c.column)
    if c.kind == "not_null":
        return col.isNull()
    if c.kind == "accepted_values":
        if not c.values:
            # empty domain: every non-null value violates (isin(*()) would
            # throw at analysis time)
            return col.isNotNull()
        return col.isNotNull() & ~col.isin(*c.values)
    if c.kind == "in_range":
        return col.isNotNull() & ~col.between(F.lit(c.lo), F.lit(c.hi))
    if c.kind == "non_negative":
        return col.isNotNull() & (col < 0)
    if c.kind == "matches":
        return col.isNotNull() & ~col.rlike(c.pattern)
    raise ValueError(f"unknown check kind: {c.kind}")


def compile_suite(df: DataFrame, checks: list[Check]) -> DataFrame:
    """All checks in one aggregate pass -> tidy rows.

    Returns columns: check_name, col_name, n_rows, n_violations, passed."""
    if not checks:
        # zero checks -> empty tidy frame (explode of an empty array is an
        # analysis error); plausible for programmatically filtered suites
        return df.sparkSession.createDataFrame(
            [],
            "check_name string, col_name string, n_rows long,"
            " n_violations long, passed boolean",
        )
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i, c in enumerate(checks):
        if c.kind == "unique":
            # violations = duplicate non-null rows (count(col) skips nulls,
            # so nulls aren't double-counted) + every null key (PK
            # semantics: a null key is itself a violation)
            aggs.append(
                (
                    F.count(F.col(c.column))
                    - F.countDistinct(F.col(c.column))
                    + F.count_if(F.col(c.column).isNull())
                )
                .cast("long")
                .alias(f"_v{i}")
            )
        else:
            aggs.append(F.count_if(_violation_expr(c)).cast("long").alias(f"_v{i}"))
    wide = df.agg(*aggs)
    tidy = F.array(
        *[
            F.struct(
                F.lit(c.name).alias("check_name"),
                F.lit(c.column).alias("col_name"),
                F.col("_n").alias("n_rows"),
                F.col(f"_v{i}").alias("n_violations"),
                (F.col(f"_v{i}") == 0).alias("passed"),
            )
            for i, c in enumerate(checks)
        ]
    )
    return wide.select(F.explode(tidy).alias("r")).select("r.*")

