"""Multi-clause MERGE INTO (store.merge_into): Delta-style semantics on
plain DataFrames — matched update, conditional matched delete, not-matched
insert (same-named columns, NULL fill), not-matched-by-source delete,
three-valued logic on clause conditions, and the fingerprint upsert
configuration that store.upsert_to_path commits.
"""

from __future__ import annotations

import pytest

from pandaspark import store


def _rows(df, *key):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda t: tuple((v is None, v) for v in t),
    )


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, name string, qty int"
    )


@pytest.fixture()
def source(spark):
    return spark.createDataFrame(
        [(2, "B", 5), (3, "C", -1), (4, "d", 40)], "k int, name string, qty int"
    )


def test_update_and_insert(spark, target, source):
    out = store.merge_into(
        target,
        source,
        ["k"],
        matched_update={"name": "s.name", "qty": "t.qty + s.qty"},
    )
    assert _rows(out) == [
        (1, "a", 10),
        (2, "B", 25),
        (3, "C", 29),
        (4, "d", 40),
    ]


def test_matched_delete_wins_over_update(spark, target, source):
    out = store.merge_into(
        target,
        source,
        ["k"],
        matched_update={"qty": "s.qty"},
        matched_delete="s.qty < 0",
    )
    assert _rows(out) == [(1, "a", 10), (2, "B", 5), (4, "d", 40)] or _rows(out) == [
        (1, "a", 10),
        (2, "b", 5),
        (4, "d", 40),
    ]
    # row k=3 (s.qty = -1) deleted; k=2 updated
    ks = {r[0] for r in out.collect()}
    assert ks == {1, 2, 4}


def test_not_matched_by_source_delete(spark, target, source):
    # sync semantics: target rows absent from the source are dropped
    out = store.merge_into(
        target,
        source,
        ["k"],
        matched_update={"qty": "s.qty"},
        not_matched_by_source_delete="true",
    )
    assert {r[0] for r in out.collect()} == {2, 3, 4}


def test_insert_null_fills_columns_the_source_lacks(spark, target):
    src = spark.createDataFrame([(9, 900)], "k int, amount int")
    out = store.merge_into(target, src, ["k"])
    ins = [r for r in out.collect() if r["k"] == 9][0]
    assert ins["qty"] is None and ins["name"] is None
    assert out.schema == target.schema


def test_null_condition_is_not_a_delete(spark):
    # three-valued logic: a NULL delete-condition must KEEP the row
    t = spark.createDataFrame([(1, 10)], "k int, qty int")
    s = spark.createDataFrame([(1, None)], "k int, qty int")
    out = store.merge_into(
        t, s, ["k"], matched_update={"qty": "s.qty"}, matched_delete="s.qty < 0"
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["qty"] is None


def test_missing_key_raises(spark, target, source):
    with pytest.raises(ValueError):
        store.merge_into(target, source.drop("k"), ["k"])


def test_merge_reproduces_fingerprint_upsert(spark):
    """The banking upsert is one configuration of the general MERGE:
    matched rows take the batch's derived fields (even when NULL), keep
    store identity columns; unmatched insert whole."""
    from datetime import date

    schema = (
        "transaction_id long, account string, book_date date, amount_cents long,"
        " balance_cents long, category string, category_manual string,"
        " transfer_category string, fingerprint string"
    )
    cols = [f.split()[0] for f in schema.split(",")]
    st = spark.createDataFrame(
        [
            (1, "DE1", date(2024, 1, 1), 100, 1000, "food", None, None, "fp1"),
            (2, "DE1", date(2024, 1, 2), 200, 1200, "rent", "manual", None, "fp2"),
        ],
        schema,
    ).select(*cols)
    batch = spark.createDataFrame(
        [
            (0, "DE1", date(2024, 1, 2), 200, 1250, "rent2", None, "tc", "fp2"),
            (0, "DE1", date(2024, 1, 3), 300, 1500, "fuel", None, None, "fp3"),
        ],
        schema,
    ).select(*cols)

    expected = [
        (1, "DE1", date(2024, 1, 1), 100, 1000, "food", None, None, "fp1"),
        # matched: derived fields from the batch, the NULL manual category
        # included; id, account, dates and amount stay the store's
        (2, "DE1", date(2024, 1, 2), 200, 1250, "rent2", None, "tc", "fp2"),
        (0, "DE1", date(2024, 1, 3), 300, 1500, "fuel", None, None, "fp3"),
    ]
    got = store.merge_into(
        st,
        batch,
        ["fingerprint"],
        matched_update={
            c: f"s.{c}"
            for c in ("transfer_category", "category", "category_manual", "balance_cents")
        },
    )
    assert sorted(expected) == _rows(got)


def test_merge_plan_is_one_join(spark, target, source):
    """All four clauses ride ONE equi-join: the physical plan must contain
    exactly one join over the two scans (the scale property — no
    per-clause re-join of either side)."""
    out = store.merge_into(
        target,
        source,
        ["k"],
        matched_update={"qty": "s.qty"},
        matched_delete="s.qty < 0",
        not_matched_by_source_delete="t.qty > 25",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert joins == 1, plan


def test_conditional_insert_clause(spark, target, source):
    # WHEN NOT MATCHED AND <cond> THEN INSERT: k=4 (qty 40) passes the
    # condition; with cond "s.qty < 0" nothing inserts; NULL cond -> no fire
    out = store.merge_into(
        target, source, ["k"], not_matched_insert_condition="s.qty > 10"
    )
    assert {r[0] for r in out.collect()} == {1, 2, 3, 4}
    out2 = store.merge_into(
        target, source, ["k"], not_matched_insert_condition="s.qty < 0"
    )
    assert {r[0] for r in out2.collect()} == {1, 2, 3}
    s_null = spark.createDataFrame([(7, "x", None)], "k int, name string, qty int")
    out3 = store.merge_into(
        target, s_null, ["k"], not_matched_insert_condition="s.qty > 0"
    )
    assert {r[0] for r in out3.collect()} == {1, 2, 3}
