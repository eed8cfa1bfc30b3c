"""Bank-statement CSV ingest (SURVEY.md §2.1 S1-S4) — distributed, no
driver-side file handling.

The source format (behavioral spec: /root/reference/panda.py:18-82) is a
German ING export: ISO-8859-1, ';'-separated, a variable-length preamble
before the header line, day-first dates, German decimals, and the account
encoded as an IBAN in the file name.

Spark-first design: Spark's CSV reader cannot skip a *variable-length*
preamble, and its text source is UTF-8-only. So files are read through the
`binaryFile` source (one row per file — bank exports are inherently small
per-file; thousands of files parallelize across the cluster), decoded
JVM-side with decode, sliced at the header with instr/substring, and
exploded into lines — every step a built-in expression, zero Python UDFs.
The expressions are written as SQL text (selectExpr/where), with every
literal — header names, account names — quoted by functions.sql_string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .functions import german_date_sql, german_number_sql, sql_string

HEADER_PREFIX = "Buchung;Wertstellungsdatum;Auftraggeber"
LINE_BREAK = r"\r?\n"
#: the account's IBAN inside the file name: <prefix>_<IBAN>_<suffix>.csv
IBAN_IN_NAME = r"_([A-Z]{2}\d+)_"

#: IBAN → logical account. 5-entry dim: compiled to a map expression
#: (broadcast-join-free; at 100 TB a constant map beats even a broadcast join).
DEFAULT_ACCOUNT_MAP = {
    "DE97500105175409854125": "common",
    "DE69500105175402313946": "giro",
    "DE27500105175404412327": "gesa",
    "DE18500105175525166237": "extra",
    "DE28500105175544958810": "extra-common",
}

#: German header → canonical column. Looked up by header *name* per file
#: (array_position over the split header), so files with shuffled or extra
#: columns (the two Währung columns, future bank format drift) still parse.
CSV_COLUMNS = [
    ("Buchung", "book_date"),
    ("Wertstellungsdatum", "valuta_date"),
    ("Auftraggeber/Empfänger", "party"),
    ("Buchungstext", "book_text"),
    ("Verwendungszweck", "purpose"),
    ("Betrag", "amount"),
    ("Saldo", "balance"),
]


def read_ing_csv(
    spark: SparkSession,
    path: str | list[str],
    account_map: dict[str, str] | None = None,
) -> DataFrame:
    """Path (glob ok) or paths of ING CSV exports → canonical 8-column
    frame: account, book_date, valuta_date, party, book_text, purpose,
    amount, balance. Fully distributed; preamble length may differ per
    file.

    Built as a few SQL-text projections over the scan rather than a
    withColumn chain: the same expressions for a handful of py4j round
    trips. Header positions and the account are resolved once per file,
    before the explode."""
    account_map = account_map if account_map is not None else DEFAULT_ACCOUNT_MAP
    q = sql_string

    # ING exports are Latin-1
    txt = "decode(content, 'ISO-8859-1')"
    # Slice from the header line onward (preamble is variable-length).
    body = f"substring({txt}, instr({txt}, {q(HEADER_PREFIX)}), length({txt}))"
    files = (
        spark.read.format("binaryFile")
        .load(path)
        .selectExpr("path", f"split({body}, {q(LINE_BREAK)}) AS lines")
        .selectExpr(
            "path",
            "split(element_at(lines, 1), ';') AS header",
            "slice(lines, 2, greatest(size(lines) - 1, 0)) AS data_lines",
        )
        .where("element_at(header, 1) = 'Buchung'")
    )
    # account from the IBAN embedded in the file name: <prefix>_<IBAN>_<sfx>.csv
    accounts = ", ".join(q(x) for kv in account_map.items() for x in kv)
    lines = files.selectExpr(
        f"element_at(map({accounts}), regexp_extract(path, {q(IBAN_IN_NAME)}, 1)) AS account",
        # 1-based position of each header name, 0 if absent (get() → NULL)
        *[f"CAST(array_position(header, {q(german)}) - 1 AS INT) AS {name}_at"
          for german, name in CSV_COLUMNS],
        "explode(data_lines) AS line",
    ).where("trim(line) != ''")
    fields = lines.selectExpr(
        "account", *[f"{name}_at" for _, name in CSV_COLUMNS], "split(line, ';') AS fields"
    )

    get = {name: f"get(fields, {name}_at)" for _, name in CSV_COLUMNS}
    empty_to_null = lambda c: f"CASE WHEN trim({get[c]}) = '' THEN NULL ELSE {get[c]} END AS {c}"
    return fields.selectExpr(
        "account",
        f"{german_date_sql(get['book_date'])} AS book_date",
        f"{german_date_sql(get['valuta_date'])} AS valuta_date",
        empty_to_null("party"),
        empty_to_null("book_text"),
        empty_to_null("purpose"),
        f"CAST({german_number_sql(get['amount'])} AS DOUBLE) AS amount",
        f"CAST({german_number_sql(get['balance'])} AS DOUBLE) AS balance",
    )
