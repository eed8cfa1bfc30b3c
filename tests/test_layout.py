"""Storage-layout gates: the year-partitioned store must prune, and the
LSH and sketch aggregates must stay inside their error bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_DIR


def test_minhash_lsh_recall_and_candidate_rate(spark, ddb):
    """q34's MinHash-LSH must actually FIND the near-duplicates: ≥90%
    recall on exact-Jaccard ≥ 0.9 pairs (5-gram shingles, same definition
    as the operator), while keeping candidates < 2% of all pairs — the
    property that makes LSH the 100 TB path instead of O(N²)."""
    from pandaspark.queries import REGISTRY

    truth = ddb.execute(
        """
        WITH sh AS (
          SELECT doc_id, list_distinct(
                   [substring(t, i, 5) FOR i IN range(1, length(t) - 3)]) AS s
          FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                FROM documents WHERE text IS NOT NULL)
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
              / length(list_distinct(list_concat(a.s, b.s))) >= 0.9
        """
    ).fetchall()
    true_pairs = {(a, b) for a, b in truth}
    assert len(true_pairs) >= 5, "corpus should contain planted near-dups"

    cand_rows = REGISTRY["q34_minhash_lsh"].fn(spark, SF_DIR).collect()
    cand = {(r.doc_a, r.doc_b) for r in cand_rows}
    n_docs = ddb.execute("SELECT count(*) FROM documents").fetchone()[0]
    all_pairs = n_docs * (n_docs - 1) / 2

    recall = len(true_pairs & cand) / len(true_pairs)
    assert recall >= 0.9, f"LSH recall {recall:.2f} on near-identical pairs"
    assert len(cand) / all_pairs < 0.02, f"candidate flood: {len(cand)}/{all_pairs:.0f}"


def test_sketch_aggregates_error_bounds(spark):
    """Portable-sketch error bounds: the m=64 HLL estimate is within its
    ~13% (1.04/sqrt(64)) expected band of the exact NDV, and the exact
    lower median always falls inside the reported base-2 median bucket."""
    from pandaspark.queries import REGISTRY

    rows = REGISTRY["q58_sketch_aggs"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert abs(r.hll_est - r.exact_orders) / max(r.exact_orders, 1) < 0.30
        assert abs(r.hll_rel_err) < 0.30
        assert r.bucket_lo_cents <= r.exact_median_cents <= r.bucket_hi_cents
        assert r.bucket_lo_cents == 1 << (r.median_bucket - 1)


def test_year_partitioned_store_prunes_partitions(spark, tmp_path):
    """write_store partitions by year(book_date); a year-filtered read must
    show partition pruning in the scan (the reference's analysis queries
    are all year-scoped — at 100 TB this is the difference between reading
    one year and reading the whole table)."""
    import datetime as dt

    from pandaspark.store import write_store

    rows = [
        (i, "giro", dt.date(2023 + (i % 3), 1 + (i % 12), 5), dt.date(2023 + (i % 3), 1 + (i % 12), 6),
         f"p{i}", "bt", "zweck", (i + 1) * 100, None, None, None, None, f"fp{i}")
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "transaction_id long, account string, book_date date, valuta_date date,"
        " party string, book_text string, purpose string, amount_cents long,"
        " balance_cents long, transfer_category string, category string,"
        " category_manual string, fingerprint string",
    )
    path = str(tmp_path / "store")
    write_store(df, path)
    got = spark.read.parquet(path).filter(F.col("book_year") == 2024)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    scan = plan[plan.index("Scan parquet"):]
    pf = [l for l in scan.splitlines() if "PartitionFilters" in l][0]
    assert "book_year" in pf, pf
    assert got.count() == sum(1 for r in rows if r[2].year == 2024) > 0

    # each data file holds its rows in canonical order
    from pandaspark.store import CANONICAL_ORDER

    files = list(tmp_path.glob("store/v000001/book_year=*/*.parquet"))
    assert files
    for f in files:
        keys = [tuple(r) for r in spark.read.parquet(str(f)).select(*CANONICAL_ORDER).collect()]
        assert keys == sorted(keys), f

    # the END-TO-END loop (§4.2): read_store keeps book_year and the
    # analytics year filters reference it, so a year-scoped ANALYTICS query
    # prunes partition directories — not just a hand-written raw filter
    from pandaspark.analytics import uncategorized_expenses, with_cat
    from pandaspark.store import read_store

    ws = with_cat(read_store(spark, path))
    q = uncategorized_expenses(ws, year=2024)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    scan = plan[plan.index("Scan parquet"):]
    pf = [l for l in scan.splitlines() if "PartitionFilters" in l][0]
    assert "book_year" in pf, f"analytics year filter did not prune: {pf}"
    assert q.count() == sum(1 for r in rows if r[2].year == 2024)
