"""The CLI front door (reference: panda.py Typer commands) drives the same
library code the tests already verify — these tests check the wiring:
import → categorize → analyze → backup/restore round-trip, idempotent
re-import, and the registry query runner."""

from __future__ import annotations

import json
import pathlib

import pytest

from pandaspark.cli import main
from pandaspark.store import read_store

from .conftest import SF_DIR

CSV_HEADER = (
    "Buchung;Wertstellungsdatum;Auftraggeber/Empfänger;Buchungstext;"
    "Verwendungszweck;Betrag;Saldo;Währung"
)


@pytest.fixture(scope="module")
def cli_env(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    csv = d / "umsatz_DE11111111111111111111_2024.csv"
    csv.write_text(
        "\n".join(
            [
                "Umsatzanzeige;Datei erstellt am: 01.02.2024",
                "",
                CSV_HEADER,
                "15.01.2024;15.01.2024;REWE Märkte GmbH;Lastschrift;Einkauf;-54,30;1.234,56;EUR",
                "16.01.2024;16.01.2024;Kreuzwerker;Gehalt/Rente;Gehalt Januar;3.500,00;4.734,56;EUR",
                "17.01.2024;17.01.2024;Stadtwerke;Lastschrift;Strom;-80,00;4.654,56;EUR",
            ]
        )
        + "\n",
        encoding="iso-8859-1",
    )
    rules = d / "rules.json"
    rules.write_text(
        json.dumps(
            {
                "einkaufen": {"party": ["rewe"]},
                "wohnen::strom": {"party": ["stadtwerke"]},
                "einnahmen::gehalt": {"party": [["giro", "kreuzwerker"]]},
            }
        )
    )
    amap = d / "accounts.json"
    amap.write_text(json.dumps({"DE11111111111111111111": "giro"}))
    return {"dir": d, "csv": str(csv), "rules": str(rules), "amap": str(amap)}


def test_cli_import_categorize_analyze_backup(cli_env, spark, capsys):
    store = str(cli_env["dir"] / "store")
    argv = [
        "ing-import",
        cli_env["csv"],
        "--store",
        store,
        "--rules",
        cli_env["rules"],
        "--account-map",
        cli_env["amap"],
    ]
    assert main(argv) == 0
    df = read_store(spark, store)
    assert df.count() == 3
    cats = {r.party: r.category for r in df.collect()}
    assert cats["REWE Märkte GmbH"] == "einkaufen"
    assert cats["Kreuzwerker"] == "einnahmen::gehalt"  # account-scoped JSON rule

    # re-import the same file: upsert is idempotent, ids unchanged
    assert main(argv) == 0
    df2 = read_store(spark, store)
    assert df2.count() == 3
    assert {r.transaction_id for r in df2.collect()} == {1, 2, 3}

    # categorize with an overriding rule table (later rules win)
    rules2 = cli_env["dir"] / "rules2.json"
    rules2.write_text(json.dumps({"food": {"party": ["rewe"]}}))
    assert main(["categorize", "--store", store, "--rules", str(rules2)]) == 0
    df3 = read_store(spark, store)
    assert {r.party: r.category for r in df3.collect()}["REWE Märkte GmbH"] == "food"
    # untouched rows keep their previous category (cascade preserves existing)
    assert {r.party: r.category for r in df3.collect()}["Kreuzwerker"] == "einnahmen::gehalt"

    # analyze prints a CSV header + rows
    capsys.readouterr()
    assert (
        main(["analyze", "--store", store, "--report", "expense_overview", "--year", "2024"])
        == 0
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) >= 2 and "," in out[0]

    # backup → restore round-trip preserves the row multiset
    backup = str(cli_env["dir"] / "backup.yaml")
    assert main(["backup", "--store", store, "--out", backup]) == 0
    restored = str(cli_env["dir"] / "restored")
    assert main(["restore", "--backup", backup, "--store", restored]) == 0
    a = read_store(spark, store).drop("book_year")
    b = read_store(spark, restored).drop("book_year")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_cli_backup_format_does_not_follow_the_file_name(cli_env, spark, tmp_path):
    """Backup and restore share one format (YAML), whatever the file is
    called: a backup written to a `.json` name restores to the same rows."""
    store = str(tmp_path / "store")
    argv = ["ing-import", cli_env["csv"], "--store", store, "--account-map", cli_env["amap"]]
    assert main(argv) == 0
    backup = str(tmp_path / "backup.json")
    assert main(["backup", "--store", store, "--out", backup]) == 0
    restored = str(tmp_path / "restored")
    assert main(["restore", "--backup", backup, "--store", restored]) == 0
    a = read_store(spark, store).drop("book_year")
    b = read_store(spark, restored).drop("book_year")
    assert a.count() == 3
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_cli_backup_is_one_file_a_person_can_edit(cli_env, spark, tmp_path):
    """The backup is one plain YAML file: hand-edit a category_manual
    value, and restore brings the edit in. No checksum sidecar is written
    next to it for the edit to break."""
    store = str(tmp_path / "store")
    argv = ["ing-import", cli_env["csv"], "--store", store, "--account-map", cli_env["amap"]]
    assert main(argv) == 0
    backup = tmp_path / "backup.yaml"
    assert main(["backup", "--store", store, "--out", str(backup)]) == 0
    text = backup.read_text(encoding="utf-8")
    assert text.count("category_manual: null") == 3
    backup.write_text(text.replace("category_manual: null", "category_manual: urlaub", 1),
                      encoding="utf-8")
    assert sorted(p.name for p in tmp_path.iterdir()) == ["backup.yaml", "store"]
    restored = str(tmp_path / "restored")
    assert main(["restore", "--backup", str(backup), "--store", restored]) == 0
    rows = {r.party: r for r in read_store(spark, restored).collect()}
    # the first record in canonical order is the 15.01. REWE row
    manual = {party: r.category_manual for party, r in rows.items()}
    assert manual == {"REWE Märkte GmbH": "urlaub", "Kreuzwerker": None, "Stadtwerke": None}
    # re-importing the same file matches every row: the override survives
    argv[argv.index(store)] = restored
    assert main(argv) == 0
    again = {r.party: r for r in read_store(spark, restored).collect()}
    assert {party: r.category_manual for party, r in again.items()} == manual
    rewe = "REWE Märkte GmbH"
    assert again[rewe].transaction_id == rows[rewe].transaction_id


def test_cli_daily_loop_imports_into_categorized_and_restored_stores(
    cli_env, spark, tmp_path, capsys
):
    """The reference's daily loop: import, categorize, import a new file
    that re-sends one row, back up, restore into a fresh store, import
    again. Every commit has the same book_year layout, so an import reads
    a categorized or restored store like any other."""

    def csv(month, rows):
        path = tmp_path / f"umsatz_DE11111111111111111111_2024-{month}.csv"
        lines = ["Umsatzanzeige;Datei erstellt am: 01.04.2024", "", CSV_HEADER, *rows]
        path.write_text("\n".join(lines) + "\n", encoding="iso-8859-1")
        return str(path)

    resent = "17.01.2024;17.01.2024;Stadtwerke;Lastschrift;Strom;-80,00;4.654,56;EUR"
    feb = csv("02", [
        resent,
        "01.02.2024;01.02.2024;REWE Märkte GmbH;Lastschrift;Einkauf;-12,00;4.642,56;EUR",
        "02.02.2024;02.02.2024;Kreuzwerker;Gehalt/Rente;Gehalt Februar;3.500,00;8.142,56;EUR",
    ])
    mar = csv("03", [
        resent,
        "01.03.2024;01.03.2024;Stadtwerke;Lastschrift;Strom;-81,00;8.061,56;EUR",
    ])
    store, restored = str(tmp_path / "store"), str(tmp_path / "restored")

    def ing_import(path, root):
        argv = ["ing-import", path, "--store", root, "--rules", cli_env["rules"],
                "--account-map", cli_env["amap"]]
        assert main(argv) == 0

    def strom_jan(root):
        rows = read_store(spark, root).filter("party = 'Stadtwerke' AND amount = -80.0").collect()
        assert len(rows) == 1
        return rows[0]

    ing_import(cli_env["csv"], store)
    assert read_store(spark, store).count() == 3
    tid = strom_jan(store).transaction_id
    rules2 = tmp_path / "rules2.json"
    rules2.write_text(json.dumps({"food": {"party": ["rewe"]}}))
    assert main(["categorize", "--store", store, "--rules", str(rules2)]) == 0

    capsys.readouterr()
    ing_import(feb, store)
    out = capsys.readouterr().out
    assert "imported 2 new rows -> " in out and "(5 total)" in out
    df = read_store(spark, store)
    assert df.count() == 5
    assert df.select("transaction_id").distinct().count() == 5
    assert strom_jan(store).transaction_id == tid
    assert strom_jan(store).category == "wohnen::strom"

    backup = str(tmp_path / "backup.yaml")
    assert main(["backup", "--store", store, "--out", backup]) == 0
    assert main(["restore", "--backup", backup, "--store", restored]) == 0
    assert read_store(spark, restored).count() == 5
    ing_import(mar, restored)
    df = read_store(spark, restored)
    assert df.count() == 6
    assert df.select("transaction_id").distinct().count() == 6
    assert strom_jan(restored).transaction_id == tid

    for root in (store, restored):
        snaps = sorted(p for p in pathlib.Path(root).iterdir() if p.name.startswith("v"))
        assert [p.name for p in snaps] == (
            ["v000001", "v000002", "v000003"] if root == store else ["v000001", "v000002"]
        )
        for snap in snaps:
            assert (snap / "_SUCCESS").exists()
            assert any(c.name.startswith("book_year=") for c in snap.iterdir()), snap


def test_cli_query_runner(capsys):
    assert main(["query", "--name", "q01_pricing_summary", "--sf-dir", SF_DIR]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].startswith("l_returnflag") or "," in out[0]
    assert len(out) >= 2


def test_cli_unknown_names_fail_cleanly(capsys):
    assert main(["query", "--name", "nope", "--sf-dir", SF_DIR]) == 2
    with pytest.raises(SystemExit):
        main(["bogus-command"])


def test_cli_analyze_rejects_reports_and_flags_it_cannot_run(tmp_path, capsys):
    """An unknown report name, or flags that do not fit the report, exit 2
    with the report table before any store is read."""
    store = str(tmp_path / "absent")
    for flags in (
        ["--report", "DataFrame"],
        ["--report", "with_cat"],
        ["--report", "keyword_costs"],
        ["--report", "regex_amount_extract", "--pattern", "x", "--year", "2024"],
    ):
        assert main(["analyze", "--store", store, *flags]) == 2
        err = capsys.readouterr().err
        assert "expense_overview" in err and "regex_amount_extract" in err
        assert "with_cat" not in err.split("available")[1]


def test_cli_imports_several_csvs_through_one_read(cli_env, spark, tmp_path, capsys, monkeypatch):
    """An import of several files reads them in one binaryFile scan, not
    one scan per file joined by unions."""
    from pandaspark import store as store_mod

    paths = []
    for month, row in [
        ("04", "01.04.2024;01.04.2024;REWE Märkte GmbH;Lastschrift;Einkauf;-20,00;980,00;EUR"),
        ("05", "02.05.2024;02.05.2024;Stadtwerke;Lastschrift;Strom;-80,00;900,00;EUR"),
    ]:
        path = tmp_path / f"umsatz_DE11111111111111111111_2024-{month}.csv"
        path.write_text("\n".join([CSV_HEADER, row]) + "\n", encoding="iso-8859-1")
        paths.append(str(path))
    batches = []
    prepare = store_mod.prepare_for_store

    def spy(batch, next_id=1):
        batches.append(batch)
        return prepare(batch, next_id=next_id)

    monkeypatch.setattr(store_mod, "prepare_for_store", spy)
    capsys.readouterr()
    argv = ["ing-import", *paths, "--store", str(tmp_path / "store"),
            "--account-map", cli_env["amap"]]
    assert main(argv) == 0
    assert "imported 2 new rows -> " in capsys.readouterr().out
    plan = batches[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan binaryFile") == 1, plan
