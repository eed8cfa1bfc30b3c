"""Data-driven rule-cascade compiler — the reference's signature capability
(SURVEY.md §2.3) as a pure expression compiler.

The reference applies an ordered dict of category → {attribute: [substrings]}
as sequential masked updates where *later rules overwrite earlier matches*
(dict order = precedence), plus hand-written predicate rules after the loop
(/root/reference/panda.py:467-523) and a transfer cascade (531-547).

Here the cascade compiles to chained CASE WHEN expressions evaluated in
REVERSE rule order (first branch = last rule = highest precedence) — a
single narrow projection, fully Catalyst-optimizable, no UDF, no driver-side
loop over data. At 100 TB this is one map-side pass fused into whole-stage
codegen; a ~400-branch CASE WHEN may exceed the JIT method limit, in which
case Spark transparently falls back to interpreted expression eval (still
vectorized columnar reads).

Building the expression is driver work, and it is paid on every import.
Each contiguous run of SubstringRules is therefore written as ONE SQL string

    CASE WHEN contains(lower(coalesce(`attr`, '')), 'needle') [AND `account` = 'acct']
         THEN 'category' ... END

and parsed by a single F.expr: one py4j round trip per run instead of ~10
per rule, so the 330-rule cascade builds in a handful of round trips. The
run joins the chain as coalesce(run, acc), which equals `... ELSE acc`
because every THEN is a non-NULL literal. PredicateRules (arbitrary
Columns) keep their when(cond, category).otherwise(acc) link. Rule text —
needles, categories, accounts, attribute names — enters the SQL only
through functions.sql_string / sql_ident, which escape `\\`, `'` and
backquotes, so it is always data and can never change the SQL's shape.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import groupby
from typing import Callable, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import sql_ident, sql_string

__all__ = [
    "SubstringRule",
    "PredicateRule",
    "Rule",
    "rules_from_map",
    "compile_cascade",
    "apply_cascade",
]


@dataclass(frozen=True)
class SubstringRule:
    """Case-insensitive literal substring on one attribute, optionally
    scoped to an account (the reference's tuple rules)."""

    category: str
    attribute: str
    needle: str
    account: str | None = None

    def sql(self) -> str:
        """The rule's condition as SQL text: case-insensitive *literal*
        substring (no regex or LIKE metacharacters), NULL-safe."""
        hay = f"lower(coalesce({sql_ident(self.attribute)}, ''))"
        cond = f"contains({hay}, {sql_string(self.needle.lower())})"
        if self.account is not None:
            cond += f" AND `account` = {sql_string(self.account)}"
        return cond


@dataclass(frozen=True)
class PredicateRule:
    """Arbitrary boolean-Column rule (the reference's 5 special cases:
    amount thresholds, equality on account/book_text, regex, conjunctions)."""

    category: str
    build: Callable[[], Column]

    def condition(self) -> Column:
        return self.build()


Rule = Union[SubstringRule, PredicateRule]


def rules_from_map(mapping: dict[str, dict[str, list]]) -> list[Rule]:
    """Flatten the reference's rule-table shape (category → attribute →
    [needle | (account, needle)]) into an ordered rule list. Dict order is
    preserved — it IS the precedence."""
    rules: list[Rule] = []
    for category, attr_map in mapping.items():
        for attribute, needles in attr_map.items():
            if not isinstance(needles, list):
                raise TypeError(f"rule table for {category!r}.{attribute!r} must be a list")
            for item in needles:
                if isinstance(item, tuple):
                    account, needle = item
                    rules.append(SubstringRule(category, attribute, needle, account))
                else:
                    rules.append(SubstringRule(category, attribute, item))
    return rules


def compile_cascade(rules: Sequence[Rule], existing: Column | None = None) -> Column:
    """Compile an ordered cascade into one Column with last-match-wins
    semantics. Rows matching no rule get `existing` (default NULL)."""
    acc = existing if existing is not None else F.lit(None).cast("string")
    for is_substring, run in groupby(rules, key=lambda r: isinstance(r, SubstringRule)):
        if is_substring:
            branches = " ".join(
                f"WHEN {r.sql()} THEN {sql_string(r.category)}" for r in reversed(list(run))
            )
            acc = F.coalesce(F.expr(f"CASE {branches} END"), acc)
        else:
            for rule in run:
                acc = F.when(rule.condition(), F.lit(rule.category)).otherwise(acc)
    return acc


def apply_cascade(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Derive `category` from the cascade. Pure (no mutation):
    categorization is a view over the data, so re-running is idempotent by
    construction — the reference's key semantic (SURVEY.md §3.2)."""
    existing = F.col("category") if "category" in df.columns else None
    return df.withColumn("category", compile_cascade(rules, existing))
