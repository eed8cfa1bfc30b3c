"""End-to-end reference-parity tests for the banking pipeline:
fixture ING CSVs (generated here, FIXTURES.md §a) → ingest → rule cascade →
fingerprint/dedup/ids → upsert → analytics. Oracles are independent
implementations (hashlib for fingerprints, a pure-Python forward-loop for
the cascade, DuckDB for the analytics queries).
"""

from __future__ import annotations

import collections
import datetime as dt
import gc
import hashlib
import random
import threading

import pytest
from pyspark.sql import functions as F

from pandaspark.analytics import (
    expense_overview,
    income_overview,
    uncategorized_expenses,
    with_cat,
)
from pandaspark.ingest import read_ing_csv
from pandaspark.rules import PredicateRule, SubstringRule, apply_cascade, rules_from_map
from pandaspark.store import (
    merge_import,
    next_transaction_id,
    prepare_for_store,
    read_store,
    upsert_to_path,
    write_store,
)

ACCOUNT_MAP = {
    "DE11111111111111111111": "giro",
    "DE22222222222222222222": "gesa",
    "DE33333333333333333333": "common",
}

CSV_HEADER = "Buchung;Wertstellungsdatum;Auftraggeber/Empfänger;Buchungstext;Verwendungszweck;Betrag;Saldo;Währung"


def _write_csv(path, preamble_lines, rows):
    lines = preamble_lines + [CSV_HEADER] + rows
    path.write_text("\n".join(lines) + "\n", encoding="iso-8859-1")


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ing_csvs")
    _write_csv(
        d / "umsatz_DE11111111111111111111_2024.csv",
        ["Umsatzanzeige;Datei erstellt am: 01.02.2024", "", "IBAN;DE11...;", "Zeitraum;alle;"],
        [
            "15.01.2024;15.01.2024;REWE Märkte GmbH;Lastschrift;Einkauf Danke;-54,30;1.234,56;EUR",
            "16.01.2024;16.01.2024;Kreuzwerker;Gehalt/Rente;Gehalt Januar;3.500,00;4.734,56;EUR",
            "17.01.2024;17.01.2024;;Überweisung;Zinsen 12,34 Rate;-1.000,00;3.734,56;EUR",
            "18.01.2024;18.01.2024;VISA APPLE.COM/BILL;Lastschrift;App Store;-9,99;3.724,57;EUR",
            "19.01.2024;19.01.2024;VISA APPLE.COM/BILL;Lastschrift;MacBook;-2.199,00;1.525,57;EUR",
            "20.01.2024;22.01.2024;Stadtwerke München;Lastschrift;   ;-80,00;1.445,57;EUR",
        ],
    )
    # different preamble length; same REWE row text but different account →
    # distinct natural key (account participates in the key)
    _write_csv(
        d / "umsatz_DE22222222222222222222_2024.csv",
        ["Umsatzanzeige"],
        [
            "15.01.2024;15.01.2024;REWE Märkte GmbH;Lastschrift;Einkauf Danke;-54,30;1.234,56;EUR",
            "21.01.2024;21.01.2024;Arbeitgeber AG;Gehalt/Rente;Gehalt;2.800,00;4.000,00;EUR",
        ],
    )
    return str(d)


RULES = rules_from_map(
    {
        "einkaufen": {"party": ["rewe", "edeka"]},
        "wohnen::strom": {"party": ["stadtwerke"]},
        "einnahmen::gehalt::andreas": {"party": [("giro", "kreuzwerker")]},
    }
) + [
    # special rules in the reference's shape: threshold + equality + conjunction
    PredicateRule(
        "media",
        lambda: F.lower(F.coalesce(F.col("party"), F.lit(""))).contains("apple.com/bill")
        & (F.col("amount") > -50),
    ),
    PredicateRule(
        "einnahmen::gehalt::gesa",
        lambda: (F.col("account") == "gesa") & (F.col("book_text") == "Gehalt/Rente"),
    ),
]


def test_ingest_parses_german_formats(spark, csv_dir):
    df = read_ing_csv(spark, csv_dir, account_map=ACCOUNT_MAP)
    rows = {(r.account, r.party, str(r.book_date)): r for r in df.collect()}
    assert len(rows) == 8
    rewe = rows[("giro", "REWE Märkte GmbH", "2024-01-15")]
    assert rewe.amount == -54.30 and rewe.balance == 1234.56
    gehalt = rows[("giro", "Kreuzwerker", "2024-01-16")]
    assert gehalt.amount == 3500.00
    # nulls: empty party → NULL; whitespace-only purpose stays (normalized later)
    zinsen = rows[("giro", None, "2024-01-17")]
    assert zinsen.party is None and zinsen.purpose == "Zinsen 12,34 Rate"
    # valuta date parsed independently of book date
    strom = rows[("giro", "Stadtwerke München", "2024-01-20")]
    assert str(strom.valuta_date) == "2024-01-22"


def test_cascade_matches_python_oracle(spark):
    """Randomized table vs a pure-Python forward-loop oracle — proves the
    reverse-order when-chain compiles the reference's overwrite semantics."""
    rng = random.Random(42)
    parties = ["REWE", "apple.com/bill x", "Kreuzwerker", "Stadtwerke", "other", None]
    accounts = ["giro", "gesa", "common"]
    rows = [
        {
            "party": rng.choice(parties),
            "book_text": rng.choice(["Gehalt/Rente", "Lastschrift", None]),
            "account": rng.choice(accounts),
            "amount": round(rng.uniform(-100, 100), 2),
        }
        for _ in range(300)
    ]

    def oracle(row):
        cat = None
        for rule in RULES:
            if isinstance(rule, SubstringRule):
                hay = row[rule.attribute] or ""
                if rule.needle.lower() in hay.lower() and (
                    rule.account is None or row["account"] == rule.account
                ):
                    cat = rule.category
            elif rule.category == "media":
                if "apple.com/bill" in (row["party"] or "").lower() and row["amount"] > -50:
                    cat = rule.category
            else:
                if row["account"] == "gesa" and row["book_text"] == "Gehalt/Rente":
                    cat = rule.category
        return cat

    expected = [oracle(r) for r in rows]
    df = spark.createDataFrame(rows, "party string, book_text string, account string, amount double")
    got = [r.category for r in apply_cascade(df, RULES).collect()]
    # createDataFrame preserves row order on collect for a local list
    assert got == expected


# Rule and account text the cascade must treat as data: SQL quote and
# escape characters, identifier quotes, LIKE wildcards, non-ASCII case
# pairs, a newline, a literal backslash-n and an injection attempt.
HOSTILE = ["'", "\\", "\\'", "`", '"', "%", "_", "ß", "Ä", "\n", "\\n", "x' OR true OR 'y"]


def _hostile_rules():
    """(rule, python predicate over a row dict) pairs: substring runs of
    hostile needles, categories and accounts, with predicate rules between
    the runs and an attribute whose name holds a backquote."""
    pairs = [
        (SubstringRule(f"cat{h}{i}", "party", f"p{h}"), None) for i, h in enumerate(HOSTILE)
    ]
    pairs.append((PredicateRule("amt'\\big", lambda: F.col("amount") > 50), lambda r: r["amount"] > 50))
    pairs += [
        (SubstringRule(h + "acct", "purpose", h, account=f"a{h}"), None) for h in HOSTILE
    ]
    pairs.append(
        (
            PredicateRule("x' OR true OR 'y", lambda: F.col("account") == "a'"),
            lambda r: r["account"] == "a'",
        )
    )
    pairs += [
        (SubstringRule("ä-lower", "note`x", "ä"), None),
        (SubstringRule("STRASSE", "note`x", "STRAßE"), None),
        (SubstringRule("%lit", "note`x", "%"), None),
        (SubstringRule("_lit", "note`x", "_"), None),
    ]
    return pairs


def test_cascade_hostile_rule_text_matches_python_oracle(spark):
    """Quotes, backslashes, backquotes, wildcards, non-ASCII and injection
    text in needles, categories, accounts and attribute names compile to
    the same last-match-wins result as the pure-Python forward loop —
    over an existing category, whole and in chunks of two."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    pairs = _hostile_rules()
    rules = [r for r, _ in pairs]
    rng = random.Random(7)
    frags = HOSTILE + [f"P{h}" for h in HOSTILE] + ["plain", "Ä", "straße", "STRASSE", "ÄRGER", "x OR y", ""]

    def text():
        return None if rng.random() < 0.1 else "".join(rng.choice(frags) for _ in range(rng.randint(0, 3)))

    rows = [
        {
            "party": text(),
            "purpose": text(),
            "note`x": text(),
            "account": rng.choice([f"a{h}" for h in HOSTILE] + ["giro", None]),
            "amount": round(rng.uniform(-100, 100), 2),
            "category": rng.choice(["kept", "x' OR 'y", None]),
        }
        for _ in range(400)
    ]

    def oracle(row):
        cat = row["category"]
        for rule, pred in pairs:
            if isinstance(rule, SubstringRule):
                hay = (row[rule.attribute] or "").lower()
                hit = rule.needle.lower() in hay and (
                    rule.account is None or row["account"] == rule.account
                )
            else:
                hit = pred(row)
            if hit:
                cat = rule.category
        return cat

    expected = [oracle(r) for r in rows]
    # the table must exercise the rules: most categories are reached
    assert len({c for c in expected} & {r.category for r in rules}) >= len(rules) - 4
    schema = StructType(
        [StructField(c, StringType()) for c in ("party", "purpose", "note`x", "account")]
        + [StructField("amount", DoubleType()), StructField("category", StringType())]
    )
    df = spark.createDataFrame([tuple(r.values()) for r in rows], schema)
    assert [r.category for r in apply_cascade(df, rules).collect()] == expected


def test_reader_keeps_account_names_and_shuffled_headers(spark, tmp_path):
    """Account-map names are data (quote and backslash come back exactly),
    an IBAN missing from the map gives a NULL account, and header columns
    are found by name: shuffled order and two Währung columns parse."""
    # the header line is found by its first three names; the rest may move
    shuffled = "Buchung;Wertstellungsdatum;Auftraggeber/Empfänger;Saldo;Währung;Verwendungszweck;Betrag;Währung;Buchungstext"
    rows = ["01.05.2024;02.05.2024;Haus & Co;1.234,56;EUR;Miete Mai;-1.000,00;EUR;Dauerauftrag"]
    (tmp_path / "umsatz_DE11111111111111111111_2024.csv").write_text(
        "\n".join(["Umsatzanzeige", shuffled] + rows) + "\n", encoding="iso-8859-1"
    )
    _write_csv(
        tmp_path / "umsatz_DE99999999999999999999_2024.csv",
        ["Umsatzanzeige", ""],
        ["03.05.2024;03.05.2024;REWE;Lastschrift;   ;-5,00;10,00;EUR"],
    )
    names = {"DE11111111111111111111": "o'giro\\x", "DE22222222222222222222": "gesa'"}
    got = sorted(read_ing_csv(spark, str(tmp_path), account_map=names).collect(), key=lambda r: r.party)
    assert [tuple(r) for r in got] == [
        ("o'giro\\x", dt.date(2024, 5, 1), dt.date(2024, 5, 2), "Haus & Co", "Dauerauftrag",
         "Miete Mai", -1000.0, 1234.56),
        (None, dt.date(2024, 5, 3), dt.date(2024, 5, 3), "REWE", "Lastschrift", None, -5.0, 10.0),
    ]


def _round_trips(monkeypatch):
    """A counter of the py4j commands that `count(call)` sends from the
    calling thread to the JVM, as a histogram of each command's first line.
    Cyclic GC is run before the call and held off during it, so deletes of
    Java handles that earlier tests left behind are not counted."""
    from py4j.clientserver import ClientServerConnection

    me = threading.get_ident()
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command.split("\n", 1)[0])
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def count(call):
        gc.collect()
        gc.disable()
        sent.clear()
        try:
            call()
        finally:
            gc.enable()
        return collections.Counter(sent)

    return count


def test_import_path_builds_in_few_round_trips(spark, csv_dir, monkeypatch):
    """Building the import path's expressions is driver work paid on every
    import: a 330-rule cascade may cost at most 8 py4j round trips more
    than a 10-rule one, and reading one CSV file at most 100."""
    from pandaspark.rules import compile_cascade

    rules = [
        SubstringRule(f"cat{i % 40}", ("party", "purpose", "book_text")[i % 3], f"needle{i}",
                      account="giro" if i % 7 == 0 else None)
        for i in range(330)
    ]
    one_file = f"{csv_dir}/umsatz_DE11111111111111111111_2024.csv"
    compile_cascade(rules[:10])  # first use resolves JVM classes
    read_ing_csv(spark, one_file, account_map=ACCOUNT_MAP)
    count = _round_trips(monkeypatch)

    small = count(lambda: compile_cascade(rules[:10]))
    assert small.total() > 0  # the counter sees this session's gateway traffic
    big = count(lambda: compile_cascade(rules))
    assert big.total() <= small.total() + 8, (small, big)

    csv = count(lambda: read_ing_csv(spark, one_file, account_map=ACCOUNT_MAP))
    assert csv.total() <= 100, csv


def test_pipeline_end_to_end(spark, csv_dir, tmp_path):
    raw = read_ing_csv(spark, csv_dir, account_map=ACCOUNT_MAP)
    empty = raw.limit(0)
    merged = merge_import(empty, raw)
    assert merged.count() == 8  # all natural keys distinct (account in key)
    # re-importing the same batch is a no-op (existing wins on collision)
    assert merge_import(merged, raw).count() == 8

    categorized = apply_cascade(merged, RULES)
    cats = {
        (r.account, str(r.book_date)): r.category for r in categorized.collect()
    }
    assert cats[("giro", "2024-01-15")] == "einkaufen"
    assert cats[("giro", "2024-01-16")] == "einnahmen::gehalt::andreas"  # account-scoped
    assert cats[("gesa", "2024-01-21")] == "einnahmen::gehalt::gesa"  # predicate rule
    assert cats[("giro", "2024-01-18")] == "media"  # threshold: -9.99 > -50
    assert cats[("giro", "2024-01-19")] is None  # -2199 fails threshold
    assert cats[("giro", "2024-01-20")] == "wohnen::strom"

    stored = prepare_for_store(categorized)
    ids = sorted(r.transaction_id for r in stored.select("transaction_id").collect())
    assert ids == list(range(1, 9))  # contiguous, 1-based

    # fingerprint parity with the hashlib oracle
    row = stored.filter(F.col("party") == "Kreuzwerker").collect()[0]
    combined = "|".join(
        [
            row.account,
            str(row.book_date),
            str(row.valuta_date),
            row.party or "",
            row.book_text or "",
            row.purpose or "",
            str(row.amount_cents),
        ]
    )
    assert row.fingerprint == hashlib.sha256(combined.encode()).hexdigest()

    # persist → reload round-trip (partitioned by year)
    store_path = str(tmp_path / "transactions")
    write_store(stored, store_path)
    reloaded = read_store(spark, store_path)
    assert reloaded.count() == 8
    amounts = {r.party: r.amount for r in reloaded.collect() if r.party}
    assert amounts["REWE Märkte GmbH"] == -54.30

    # upsert idempotency: same batch twice → unchanged count, same ids
    upsert_to_path(spark, store_path, stored)
    once = read_store(spark, store_path)
    assert once.count() == 8
    upsert_to_path(spark, store_path, stored)
    twice = read_store(spark, store_path)
    assert twice.count() == 8
    assert next_transaction_id(twice) == 9

    # upsert updates matched category fields but keeps transaction_id
    recat = stored.withColumn("category", F.lit("override"))
    upsert_to_path(spark, store_path, recat)
    merged2 = read_store(spark, store_path)
    got = merged2.filter(F.col("party") == "Kreuzwerker").collect()[0]
    assert got.category == "override" and got.transaction_id == row.transaction_id


def test_analytics_against_duckdb(spark, csv_dir):
    import duckdb

    raw = read_ing_csv(spark, csv_dir, account_map=ACCOUNT_MAP)
    pc = apply_cascade(merge_import(raw.limit(0), raw), RULES)
    pc = pc.withColumn("transfer_category", F.lit(None).cast("string"))
    pc = pc.withColumn("category_manual", F.lit("  ")).withColumn(  # whitespace → ignored
        "category_manual",
        F.when(F.col("party") == "Stadtwerke München", "wohnen::manual").otherwise(
            F.col("category_manual")
        ),
    )
    pc = with_cat(pc)

    pdf = pc.toPandas()
    con = duckdb.connect()
    con.register("pc", pdf)

    # manual override beats rule result; whitespace-only override ignored
    cats = dict(con.execute("SELECT party, cat FROM pc WHERE party IS NOT NULL").fetchall())
    assert cats["Stadtwerke München"] == "wohnen::manual"
    assert cats["REWE Märkte GmbH"] == "einkaufen"

    unc = uncategorized_expenses(pc, 2024)
    expected = con.execute(
        """SELECT account, book_date, party, book_text, purpose, amount FROM pc
           WHERE year(book_date) = 2024 AND transfer_category IS NULL
             AND account IN ('giro','gesa','common') AND cat IS NULL
           ORDER BY amount"""
    ).fetchall()
    got = [tuple(r) for r in unc.collect()]
    assert [r[-1] for r in got] == [r[-1] for r in expected]

    inc = {r.cat: r.total for r in income_overview(pc, 2024).collect()}
    exp_total = con.execute(
        """SELECT round(sum(amount), 2) FROM pc
           WHERE year(book_date) = 2024
             AND cat IN ('einnahmen::gehalt::andreas','einnahmen::gehalt::gesa','einnahmen::kindergeld')"""
    ).fetchone()[0]
    assert inc["TOTAL"] == exp_total == 6300.00

    ov = {r.cat: (r.giro, r.gesa, r.common, r.total) for r in expense_overview(pc, 2024).collect()}
    assert ov["einkaufen"][0] == -54.30 and ov["einkaufen"][1] == -54.30
    assert ov["einkaufen"][3] == -108.60
    assert ov["wohnen::manual"][3] == -80.00


def test_yaml_backup_roundtrip(spark, csv_dir, tmp_path):
    """S8/S9 proper: the reference's YAML list-of-records backup format
    (migrate.py:14-62) round-trips to an identical typed frame, and the
    file really is block-style YAML with ISO dates."""
    from pandaspark.store import backup_yaml, prepare_for_store, restore_yaml

    raw = read_ing_csv(spark, csv_dir, account_map=ACCOUNT_MAP)
    stored = prepare_for_store(apply_cascade(merge_import(raw.limit(0), raw), RULES))
    path = str(tmp_path / "backup_yaml")
    backup_yaml(stored, path)

    restored = restore_yaml(spark, path, stored.schema)
    assert [(f.name, f.dataType) for f in restored.schema.fields] == [
        (f.name, f.dataType) for f in stored.schema.fields
    ]
    key = lambda r: (r["account"], str(r["book_date"]), r["fingerprint"])
    strip = lambda r: {k: v for k, v in r.items() if k != "imported_at"}
    want = {key(r): strip(r) for r in (x.asDict() for x in stored.collect())}
    got = {key(r): strip(r) for r in (x.asDict() for x in restored.collect())}
    assert got == want and len(got) == 8
    assert all(x.imported_at is not None for x in restored.collect())

    import yaml as _y

    docs = _y.safe_load(open(path).read())
    assert isinstance(docs, list) and len(docs) == 8
    assert docs[0]["book_date"] == str(sorted(want)[0][1])
    assert open(path).read().lstrip().startswith("- ")  # block-style list
