"""The reference's analysis-session queries (SURVEY.md §3.3) as pure
DataFrame → DataFrame functions over the transactions working set.

Behavioral spec: /root/reference/panda_analysis.py (marimo notebook).
Each function is lazy; callers decide when to materialize. All are
year/account-filtered first so partition pruning (store partitioned by
book_year) and predicate pushdown cut the scan before any shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions import effective_category, in_category_subtree

ANALYSIS_ACCOUNTS = ["giro", "gesa", "common"]
INCOME_CATS = [
    "einnahmen::gehalt::andreas",
    "einnahmen::gehalt::gesa",
    "einnahmen::kindergeld",
]


def with_cat(df: DataFrame) -> DataFrame:
    """Final category: manual override wins (panda_analysis add_cat)."""
    return df.withColumn("cat", effective_category()).drop("category", "category_manual")


def _year_filter(df: DataFrame, year: int):
    """year(book_date) == year, plus the equivalent book_year predicate
    when the frame still carries the store's partition column — that form
    prunes whole partition directories at the scan (store partitioned by
    book_year; the year() expression alone cannot prune)."""
    cond = F.year("book_date") == year
    if "book_year" in df.columns:
        cond = cond & (F.col("book_year") == year)
    return cond


def uncategorized_expenses(df: DataFrame, year: int = 2024) -> DataFrame:
    """Query 1: residual uncategorized spend — the human feedback loop."""
    return (
        df.filter(
            _year_filter(df, year)
            & F.col("transfer_category").isNull()
            & F.col("account").isin(ANALYSIS_ACCOUNTS)
            & F.col("cat").isNull()
        )
        .select("account", "book_date", "party", "book_text", "purpose", "amount")
        .orderBy("amount")
    )


def cumulative_uncategorized(df: DataFrame, year: int = 2024) -> DataFrame:
    """Query 2: running total over query 1, ascending by amount.

    A global ordered window is a single-partition bottleneck at scale; this
    is a report-sized result (residuals only) so Window.orderBy is correct
    here. For full-table running totals use two-phase partial sums.
    """
    w = Window.orderBy("amount", "book_date", "party").rowsBetween(Window.unboundedPreceding, 0)
    return uncategorized_expenses(df, year).withColumn("cumulative", F.sum("amount").over(w))


def income_overview(df: DataFrame, year: int = 2024) -> DataFrame:
    """Query 3: income by category + grand-total row (rollup)."""
    base = df.filter(_year_filter(df, year) & F.col("cat").isin(INCOME_CATS))
    return (
        base.rollup("cat")
        .agg(F.round(F.sum("amount"), 2).alias("total"))
        .withColumn("cat", F.coalesce("cat", F.lit("TOTAL")))
        .orderBy("cat")
    )


def expense_overview(df: DataFrame, year: int = 2024) -> DataFrame:
    """Query 4: spending matrix category × account with row totals.

    Pivot with an *explicit* value list (unbounded pivots explode columns
    and force an extra distinct scan at scale).
    """
    accounts = ANALYSIS_ACCOUNTS
    base = df.filter(
        _year_filter(df, year)
        & ~in_category_subtree("cat", "intern")
        & ~in_category_subtree("cat", "einnahmen")
        & F.col("transfer_category").isNull()
        & F.col("account").isin(accounts)
    ).withColumn("cat", F.coalesce("cat", F.lit("Uncategorized")))
    pivoted = (
        base.groupBy("cat")
        .pivot("account", accounts)
        .agg(F.round(F.sum("amount"), 2))
        .na.fill(0.0, accounts)
    )
    total = F.round(sum(F.col(a) for a in accounts), 2).alias("total")
    return pivoted.select("cat", *accounts, total).orderBy("cat")


def keyword_costs(df: DataFrame, patterns: str, year: int | None = None) -> DataFrame:
    """Query 5 shape: case-insensitive regex OR-match across party/purpose
    (legal costs etc.) with total."""
    rx = f"(?i)({patterns})"
    base = df.filter(
        F.coalesce("party", F.lit("")).rlike(rx) | F.coalesce("purpose", F.lit("")).rlike(rx)
    )
    if year is not None:
        base = base.filter(_year_filter(base, year))
    return base.agg(
        F.count("*").alias("n"), F.round(F.sum("amount"), 2).alias("total")
    )


def regex_amount_extract(df: DataFrame, pattern: str) -> DataFrame:
    """Query 7 shape: pull a German-formatted number out of free text
    (e.g. interest parts 'Zinsen 123,45') and sum it."""
    from .functions import parse_german_number

    extracted = F.regexp_extract(F.coalesce("purpose", F.lit("")), pattern, 1)
    return (
        df.withColumn("_extracted", extracted)
        .filter(F.col("_extracted") != "")
        .withColumn("extracted_amount", parse_german_number("_extracted").cast("double"))
        .drop("_extracted")
    )
