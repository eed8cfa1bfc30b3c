"""Seeded generator for the import workload: ING CSV batches and a rule table.

Each batch is one directory holding one ING export per account, in the bank's
real format: ISO-8859-1 text, ';'-separated, a preamble of varying length
before the header, day-first dates and German decimals ('-1.234,56'). Some
rows have no counterparty, and every batch re-sends part of the previous
batch, so natural keys overlap between batches the way overlapping bank
exports do.

The rule table has about 330 substring rules in the reference's shape
(category -> attribute -> needles), some of them scoped to one account. It is
written as JSON, the format `python -m pandaspark ing-import --rules` reads.

`generate` returns the ground truth the benchmark checks the store against:
the set of distinct natural keys over all batches.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

#: The five IBANs of pandaspark.ingest.DEFAULT_ACCOUNT_MAP. Copied rather than
#: imported so the generator knows nothing of the program under test.
ACCOUNTS = {
    "DE97500105175409854125": "common",
    "DE69500105175402313946": "giro",
    "DE27500105175404412327": "gesa",
    "DE18500105175525166237": "extra",
    "DE28500105175544958810": "extra-common",
}
HEADER = (
    "Buchung;Wertstellungsdatum;Auftraggeber/Empfänger;Buchungstext;"
    "Verwendungszweck;Saldo;Währung;Betrag;Währung"
)
PREAMBLE = [
    "Umsatzanzeige;Datei erstellt am: 02.01.2025 10:15",
    "",
    "IBAN;{iban}",
    "Kontoname;Girokonto",
    "Bank;ING",
    "Kunde;Jürgen Müller",
    "Zeitraum;01.01.2023 - 31.12.2024",
    "Saldo;12.345,67;EUR",
    "",
    "Sortierung;Datum absteigend",
    "In der CSV-Datei finden Sie alle bereits gebuchten Umsätze.",
]
PARTIES = [
    "REWE Märkte GmbH", "EDEKA Südbayern", "Aldi Süd", "Lidl Dienstleistung",
    "Bäckerei Schäfer", "Stadtwerke München", "Deutsche Telekom", "Vodafone GmbH",
    "Allianz Versicherung", "HUK-Coburg", "Kreuzwerker GmbH", "Arbeitgeber AG",
    "Finanzamt München", "Familienkasse", "VISA APPLE.COM/BILL", "Amazon EU",
    "PayPal Europe", "Deutsche Bahn", "MVG München", "Shell Tankstelle",
    "Apotheke am Markt", "Dr. Größl Zahnarzt", "Fitnessstudio Kraftwerk",
    "Buchhandlung Hugendubel", "Netflix International", "Spotify AB",
    "Hausverwaltung Köhler", "Kita Sonnenschein", "IKEA Deutschland", "Café Glück",
]
BOOK_TEXTS = [
    "Lastschrift", "Gutschrift", "Überweisung", "Gehalt/Rente", "Dauerauftrag",
    "Entgelt", "Abschluss",
]
PURPOSES = [
    "Einkauf vom {d}", "Rechnung {n}", "Miete Wohnung", "Abschlag Strom", "Beitrag {n}",
    "Gehalt {m}", "Kindergeld", "Erstattung {n}", "Zinsen {n},{c} Rate", "Danke für Ihren Einkauf",
    "Monatsbeitrag", "Ticket {n}", "Bestellung {n}",
]
RULE_ATTRS = ["party", "purpose", "book_text"]
RULE_CATEGORIES = ["haushalt", "mobilitaet", "wohnen", "einnahmen", "freizeit"]
#: the import workload's size: BATCHES batches of one ROWS_PER_FILE-row file
#: per account, each re-sending OVERLAP of the previous batch's rows
BATCHES = 2
ROWS_PER_FILE = 200
OVERLAP = 0.2
#: the reference's rule table holds about this many needles
N_RULES = 330


def _german(cents: int) -> str:
    """-123456 -> '-1.234,56'."""
    sign = "-" if cents < 0 else ""
    euros, rest = divmod(abs(cents), 100)
    return f"{sign}{euros:,}".replace(",", ".") + f",{rest:02d}"


def _row(rng: np.random.Generator, start: dt.date) -> tuple:
    book = start + dt.timedelta(days=int(rng.integers(0, 730)))
    valuta = book + dt.timedelta(days=int(rng.integers(0, 3)))
    party = None if rng.random() < 0.06 else str(rng.choice(PARTIES))
    text = str(rng.choice(BOOK_TEXTS))
    r = rng.random()
    purpose = None if r < 0.04 else str(rng.choice(PURPOSES)).format(
        d=book.strftime("%d.%m."), n=int(rng.integers(1000, 99999)),
        m=book.strftime("%B"), c=int(rng.integers(10, 99)),
    )
    cents = int(rng.integers(-250_000, 400_000)) if text == "Gehalt/Rente" else int(
        rng.integers(-50_000, 5_000)
    )
    return (book, valuta, party, text, purpose, cents or 1)


def _render(rng: np.random.Generator, iban: str, rows: list[tuple]) -> bytes:
    pre = PREAMBLE[: int(rng.integers(0, len(PREAMBLE) + 1))]
    lines = [p.format(iban=iban) for p in pre] + [HEADER]
    balance = int(rng.integers(0, 2_000_000))
    for book, valuta, party, text, purpose, cents in rows:
        balance += cents
        # a missing purpose is written either empty or blank, both read as NULL
        purpose_s = purpose if purpose is not None else ("   " if rng.random() < 0.5 else "")
        lines.append(";".join([
            book.strftime("%d.%m.%Y"), valuta.strftime("%d.%m.%Y"), party or "", text,
            purpose_s, _german(balance), "EUR", _german(cents), "EUR",
        ]))
    return ("\n".join(lines) + "\n").encode("iso-8859-1")


def _rules(rng: np.random.Generator) -> dict:
    """N_RULES needles in the reference's category -> attribute -> needles
    shape; every 7th needle is scoped to one account ([account, needle])."""
    accounts = list(ACCOUNTS.values())
    vocab = sorted({w.lower() for p in PARTIES + PURPOSES + BOOK_TEXTS for w in p.split()
                    if len(w) > 3 and "{" not in w})
    table: dict[str, dict[str, list]] = {}
    for i in range(N_RULES):
        cat = f"{rng.choice(RULE_CATEGORIES)}::g{i % 40}"
        attr = RULE_ATTRS[int(rng.integers(0, len(RULE_ATTRS)))]
        needle = str(rng.choice(vocab)) if rng.random() < 0.5 else f"zz{i:04d}"
        item = [str(rng.choice(accounts)), needle] if i % 7 == 0 else needle
        table.setdefault(cat, {}).setdefault(attr, []).append(item)
    return table


def generate(out_dir: str, seed: int) -> dict:
    """Write batch_NN/ directories and rules.json under out_dir.

    Returns {"batches": [[csv, ...], ...], "rules": path, "csv_bytes":
    [int, ...], "distinct_keys": int} where distinct_keys counts natural keys
    over all batches.
    """
    rng = np.random.default_rng(seed)
    start = dt.date(2023, 1, 1)
    os.makedirs(out_dir, exist_ok=True)
    seen: set[tuple] = set()
    prev: dict[str, list[tuple]] = {}
    batches, sizes = [], []
    for b in range(BATCHES):
        d = os.path.join(out_dir, f"batch_{b:02d}")
        os.makedirs(d, exist_ok=True)
        total, files = 0, []
        for iban, account in ACCOUNTS.items():
            n_old = int(len(prev.get(iban, [])) * OVERLAP)
            old = [prev[iban][int(i)] for i in rng.choice(len(prev[iban]), n_old, replace=False)] \
                if n_old else []
            rows = old + [_row(rng, start) for _ in range(ROWS_PER_FILE - n_old)]
            prev[iban] = rows
            data = _render(rng, iban, rows)
            files.append(os.path.join(d, f"Umsatzanzeige_{iban}_{b:02d}.csv"))
            with open(files[-1], "wb") as f:
                f.write(data)
            total += len(data)
            # amounts are natural-key members in euros; cents identify them exactly
            seen.update((account, *r) for r in rows)
        batches.append(files)
        sizes.append(total)
    rules_path = os.path.join(out_dir, "rules.json")
    with open(rules_path, "w") as f:
        json.dump(_rules(rng), f)
    return {
        "batches": batches,
        "rules": rules_path,
        "csv_bytes": sizes,
        "distinct_keys": len(seen),
    }
