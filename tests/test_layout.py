"""Storage-layout gates: bucketed tables must join WITHOUT a shuffle,
partitioned and z-ordered stores must prune, and the LSH and sketch
aggregates must stay inside their error bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandaspark.queries import load
from pandaspark.store import write_bucketed

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def bucket_db(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{loc}'")
    yield "bucketdb"
    spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


def test_bucketed_join_has_no_shuffle(spark, bucket_db):
    o = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, f"{bucket_db}.orders_b", ["o_orderkey"], 4, sort_by=["o_orderkey"])
    write_bucketed(li, f"{bucket_db}.lineitem_b", ["l_orderkey"], 4, sort_by=["l_orderkey"])

    ob = spark.table(f"{bucket_db}.orders_b")
    lb = spark.table(f"{bucket_db}.lineitem_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed co-located join still shuffles"
        assert "SortMergeJoin" in plan
        # and it still returns the right rows
        n = joined.count()
        want = o.join(li, o["o_orderkey"] == li["l_orderkey"]).count()
        assert n == want > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


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


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering must beat single-column sorting for multi-
    dimensional pruning: a range predicate on EITHER clustered column
    touches a small fraction of files, while a linear sort only prunes its
    own sort column (the secondary column's per-file ranges stay
    full-width). Zone maps are the same min/max statistics the parquet
    scan uses for row-group skipping."""
    from pandaspark.store import file_zone_maps, files_touched, write_zordered

    li = load(spark, SF_DIR, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    n_files = 16
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    write_zordered(li, zpath, ["l_partkey", "l_suppkey"], num_files=n_files)
    (
        li.repartitionByRange(n_files, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    zmaps = file_zone_maps(spark, zpath, ["l_partkey", "l_suppkey"])
    lmaps = file_zone_maps(spark, lpath, ["l_partkey", "l_suppkey"])
    assert zmaps.count() == n_files
    assert lmaps.count() == n_files

    # narrow range on each dimension (~10% of the key space)
    pk_hi = li.agg(F.max("l_partkey")).first()[0]
    sk_hi = li.agg(F.max("l_suppkey")).first()[0]
    pk_rng = (1, max(pk_hi // 10, 2))
    sk_rng = (1, max(sk_hi // 10, 2))

    z_pk = files_touched(zmaps, "l_partkey", *pk_rng)
    z_sk = files_touched(zmaps, "l_suppkey", *sk_rng)
    l_pk = files_touched(lmaps, "l_partkey", *pk_rng)
    l_sk = files_touched(lmaps, "l_suppkey", *sk_rng)

    # linear layout: primary column prunes hard, secondary not at all
    assert l_pk <= n_files // 4
    assert l_sk == n_files
    # z-order: BOTH dimensions prune below the linear layout's secondary
    assert z_pk < n_files, f"z-order failed to prune partkey: {z_pk}/{n_files}"
    assert z_sk < n_files, f"z-order failed to prune suppkey: {z_sk}/{n_files}"
    assert z_pk + z_sk < l_pk + l_sk, (z_pk, z_sk, l_pk, l_sk)

    # row-multiset preserved by the rewrite (clustering is content-neutral)
    a = spark.read.parquet(zpath).groupBy("l_partkey", "l_suppkey").count()
    b = li.groupBy("l_partkey", "l_suppkey").count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
