"""Scalar expression library — the reference's entire scalar surface
(SURVEY.md §2.2, §2.8) as pure Catalyst expressions. Zero Python UDFs:
every helper returns a Column built from pyspark.sql.functions, so the
whole surface stays inside whole-stage codegen at any scale.

Reference behaviors mirrored (citations are behavioral, not code):
  - German number parse        /root/reference/panda.py:62-67
  - day-first date parse       /root/reference/panda.py:60-61
  - cents encode/decode        /root/reference/panda.py:678-679, 652-653
  - whitespace→null normalize  /root/reference/panda.py:555
  - manual-category precedence /root/reference/panda.py:552-558
  - SHA-256 fingerprint        /root/reference/panda.py:569-593
  - '::' category hierarchy    /root/reference/panda.py:87-465
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "parse_german_number",
    "german_number_sql",
    "german_date_sql",
    "to_cents",
    "from_cents",
    "null_normalize",
    "effective_category",
    "fingerprint",
    "in_category_subtree",
    "sql_string",
    "sql_ident",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def parse_german_number(c: Column | str) -> Column:
    """'1.234,56' → 1234.56 (exact decimal).

    Strip thousands '.', then ',' → '.' — the same transform as the
    reference's two-step replace, executed as ONE translate pass:
    translate(c, ',.', '.') maps ',' → '.' and deletes '.' (unpaired
    matching chars are removed). Character-for-character identical to the
    regex pair on any input, but translate is a plain codegen'd char scan —
    no regex engine on a 100 TB hot path. Decimal (not double) so money
    arithmetic stays exact.
    """
    cleaned = F.translate(_col(c), ",.", ".")
    return cleaned.cast("decimal(18,2)")


def german_number_sql(expr: str) -> str:
    """parse_german_number as SQL text over the SQL expression `expr`, for
    builders that assemble a whole projection as one string."""
    return f"CAST(translate({expr}, ',.', '.') AS DECIMAL(18,2))"


def german_date_sql(expr: str) -> str:
    """'31.12.2024' → DATE (day-first), as SQL text over the SQL
    expression `expr`."""
    return f"to_date({expr}, 'd.M.yyyy')"


def to_cents(c: Column | str) -> Column:
    """Euros → integer cents with half-to-even rounding.

    The reference rounds through numpy (banker's rounding); F.bround is
    Spark's HALF_EVEN and matches. LongType: exact at any scale, no float
    drift through aggregations.
    """
    return F.bround(_col(c) * 100).cast("long")


def from_cents(c: Column | str) -> Column:
    """Integer cents → euro double (the reference's analysis-side view)."""
    return _col(c) / F.lit(100.0)


def null_normalize(c: Column | str) -> Column:
    """Whitespace-only or empty strings → NULL (reference regex ^\\s*$)."""
    c = _col(c)
    return F.when(c.rlike(r"^\s*$"), F.lit(None)).otherwise(c)


def effective_category() -> Column:
    """cat = manual override if present (whitespace ≠ present) else rule result."""
    return F.coalesce(null_normalize("category_manual"), F.col("category"))


def fingerprint() -> Column:
    """SHA-256 hex of the natural key, nulls → ''/'0', '|'-joined.

    concat_ws *skips* nulls while the reference inserts empty strings, so
    every field is coalesced explicitly — silent hash divergence otherwise.
    """
    parts = [
        F.coalesce(F.col("account").cast("string"), F.lit("")),
        F.coalesce(F.date_format(F.col("book_date"), "yyyy-MM-dd"), F.lit("")),
        F.coalesce(F.date_format(F.col("valuta_date"), "yyyy-MM-dd"), F.lit("")),
        F.coalesce(F.col("party").cast("string"), F.lit("")),
        F.coalesce(F.col("book_text").cast("string"), F.lit("")),
        F.coalesce(F.col("purpose").cast("string"), F.lit("")),
        F.coalesce(F.col("amount_cents").cast("string"), F.lit("0")),
    ]
    return F.sha2(F.concat_ws("|", *parts), 256)


def in_category_subtree(c: Column | str, prefix: str) -> Column:
    """Null-safe subtree test: cat startswith prefix (NULL → false)."""
    return F.coalesce(_col(c), F.lit("")).startswith(prefix)


def sql_string(value: str) -> str:
    """Python str → Spark SQL string literal that parses back to exactly
    `value`. Backslash and quote are backslash-escaped (the parser's
    default escaping), so user text such as `x' OR true OR 'y` stays data.
    Every other character, newline included, is legal inside the quotes."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """Column name → backquoted Spark SQL identifier (backquotes doubled)."""
    return "`" + name.replace("`", "``") + "`"
