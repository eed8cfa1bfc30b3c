"""Command-line front door — the reference's Typer CLI surface
(/root/reference/panda.py:753-775: `ing-import`, `categorize`; plus the
migrate.py backup/restore commands) re-expressed over the Spark engine, so
a user of the reference can run the same daily workflow verbatim:

    python -m pandaspark ing-import giro_*.csv --store ./transactions
    python -m pandaspark categorize --store ./transactions --rules rules.json
    python -m pandaspark backup --store ./transactions --out backup.yaml
    python -m pandaspark restore --backup backup.yaml --store ./restored
    python -m pandaspark analyze --store ./transactions --report expense_overview --year 2024
    python -m pandaspark query --name q01_pricing_summary --sf-dir /root/testdata/sf0.01

Rule tables load from JSON: {category: {attribute: [needle | [account,
needle], ...]}} — the same category→attribute→needles shape as the
reference's in-code dict (dict order = precedence, later rules win). The
reference keeps its ~330-entry personal table in code; that table is
personal data, so here it is an input file.

Every subcommand is a thin shell over the library (ingest/rules/store/
analytics) — no logic lives here, so the CLI and the driver-checked query
registry exercise identical code paths.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _spark() -> SparkSession:
    from .session import get_spark

    return get_spark("pandaspark-cli")


def _load_rules(path: str | None):
    from .rules import rules_from_map

    if path is None:
        return []
    with open(path) as f:
        mapping = json.load(f)
    # JSON has no tuples: a 2-element list under an attribute means
    # (account, needle) — the reference's account-scoped rule shape
    conv = {
        cat: {
            attr: [tuple(x) if isinstance(x, list) else x for x in needles]
            for attr, needles in attrs.items()
        }
        for cat, attrs in mapping.items()
    }
    return rules_from_map(conv)


def _print_df(df: DataFrame, limit: int) -> None:
    rows = df.limit(limit).collect()
    cols = df.columns
    print(",".join(cols))
    for r in rows:
        print(",".join("" if r[c] is None else str(r[c]) for c in cols))


def cmd_ing_import(args) -> int:
    from .ingest import read_ing_csv
    from .rules import apply_cascade
    from .store import (
        latest_commit_path,
        merge_import,
        next_transaction_id,
        prepare_for_store,
        read_store,
        upsert_to_path,
    )

    spark = _spark()
    account_map = None
    if args.account_map:
        with open(args.account_map) as f:
            account_map = json.load(f)
    raw = read_ing_csv(spark, args.csvs, account_map=account_map)
    batch = merge_import(raw.limit(0), raw)  # batch-internal natural-key dedup
    rules = _load_rules(args.rules)
    if rules:
        batch = apply_cascade(batch, rules)
    before, next_id = 0, 1
    if latest_commit_path(spark, args.store) is not None:
        store = read_store(spark, args.store)
        before, next_id = store.count(), next_transaction_id(store)
    prepared = prepare_for_store(batch, next_id=next_id)
    committed = upsert_to_path(spark, args.store, prepared)
    # both counts read committed snapshots' parquet footers; counting the
    # batch would re-run the CSV → dedup → cascade pipeline
    n = read_store(spark, args.store).count()
    print(f"imported {n - before} new rows -> {committed} ({n} total)")
    return 0


def cmd_categorize(args) -> int:
    from .rules import apply_cascade
    from .store import read_store, to_storage, write_store

    spark = _spark()
    rules = _load_rules(args.rules)
    if not rules:
        print("no rules given (--rules rules.json)", file=sys.stderr)
        return 2
    df = read_store(spark, args.store)
    recat = apply_cascade(df, rules)
    write_store(to_storage(recat), args.store)
    n = recat.filter(F.col("category").isNotNull()).count()
    print(f"categorized: {n} rows have a category")
    return 0


def cmd_backup(args) -> int:
    from .store import backup_yaml, read_store, to_storage

    spark = _spark()
    df = to_storage(read_store(spark, args.store))
    backup_yaml(df, args.out)
    print(f"backed up {df.count()} rows -> {args.out}")
    return 0


def cmd_restore(args) -> int:
    from .store import TRANSACTIONS_SCHEMA, restore_yaml, write_store

    spark = _spark()
    df = restore_yaml(spark, args.backup, TRANSACTIONS_SCHEMA)
    write_store(df, args.store)
    print(f"restored {df.count()} rows -> {args.store}")
    return 0


# the analytics reports `analyze --report` runs: each takes the working
# set plus what --year / --pattern supply
_REPORTS = (
    "uncategorized_expenses",
    "cumulative_uncategorized",
    "income_overview",
    "expense_overview",
    "keyword_costs",
    "regex_amount_extract",
)


def cmd_analyze(args) -> int:
    import inspect

    from . import analytics
    from .store import read_store

    kwargs = {}
    if args.year is not None:
        kwargs["year"] = args.year
    if args.pattern is not None:
        kwargs["patterns" if args.report == "keyword_costs" else "pattern"] = args.pattern
    if args.report not in _REPORTS:
        print(f"unknown report {args.report!r}; available: {list(_REPORTS)}", file=sys.stderr)
        return 2
    report = getattr(analytics, args.report)
    try:
        # the working set binds in place of None once Spark is up
        inspect.signature(report).bind(None, **kwargs)
    except TypeError as e:
        print(f"report {args.report!r}: {e}; available: {list(_REPORTS)}", file=sys.stderr)
        return 2
    df = analytics.with_cat(read_store(_spark(), args.store))
    _print_df(report(df, **kwargs), args.limit)
    return 0


def cmd_report(args) -> int:
    from .report import write_report

    spark = _spark()
    kwargs = {}
    if args.pattern:
        kwargs["keyword_patterns"] = args.pattern
    if args.home_office_config:
        from .report import CostLine, HomeOfficeConfig

        with open(args.home_office_config) as fh:
            cfg = json.load(fh)
        kwargs["home_office"] = HomeOfficeConfig(
            area_total_m2=cfg["area_total_m2"],
            area_office_m2=cfg["area_office_m2"],
            account=cfg.get("account"),
            lines=tuple(CostLine(**line) for line in cfg.get("lines", [])),
        )
    data = write_report(spark, args.store, args.out, args.year, **kwargs)
    print(f"wrote {args.out} ({len(data['sections'])} sections)")
    return 0


def cmd_query(args) -> int:
    from .queries import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r} ({len(REGISTRY)} registered)", file=sys.stderr)
        return 2
    spark = _spark()
    _print_df(REGISTRY[args.name].fn(spark, args.sf_dir), args.limit)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pandaspark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("ing-import", help="import ING CSV exports into the store")
    s.add_argument("csvs", nargs="+")
    s.add_argument("--store", required=True)
    s.add_argument("--rules", default=None)
    s.add_argument("--account-map", default=None, help="JSON {IBAN: account-name}")
    s.set_defaults(fn=cmd_ing_import)

    s = sub.add_parser("categorize", help="re-run the rule cascade over the store")
    s.add_argument("--store", required=True)
    s.add_argument("--rules", required=True)
    s.set_defaults(fn=cmd_categorize)

    s = sub.add_parser("backup", help="export the store to YAML")
    s.add_argument("--store", required=True)
    s.add_argument("--out", required=True)
    s.set_defaults(fn=cmd_backup)

    s = sub.add_parser("restore", help="rebuild a store from a backup file")
    s.add_argument("--backup", required=True)
    s.add_argument("--store", required=True)
    s.set_defaults(fn=cmd_restore)

    s = sub.add_parser("analyze", help="run one of the analysis reports")
    s.add_argument("--store", required=True)
    s.add_argument("--report", required=True)
    s.add_argument("--year", type=int, default=None)
    s.add_argument("--pattern", default=None)
    s.add_argument("--limit", type=int, default=100)
    s.set_defaults(fn=cmd_analyze)

    s = sub.add_parser("report", help="render the analysis pack to a self-contained HTML document")
    s.add_argument("--store", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--year", type=int, required=True)
    s.add_argument("--pattern", default=None, help="keyword-costs section regex")
    s.add_argument(
        "--home-office-config",
        default=None,
        help="JSON {area_total_m2, area_office_m2, account?, lines: [{label, category?, pattern?, share?}]}",
    )
    s.set_defaults(fn=cmd_report)

    s = sub.add_parser("query", help="run a registry query against a dataset dir")
    s.add_argument("--name", required=True)
    s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    s.add_argument("--limit", type=int, default=50)
    s.set_defaults(fn=cmd_query)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
