"""Unit tests for the declarative expectations suite: each check kind must
count its violations exactly, and the whole suite must compile to a single
aggregate pass (one scan per table)."""

from __future__ import annotations

from pandaspark.expectations import Check, compile_suite


def test_each_check_kind_counts_violations_exactly(spark):
    rows = [
        # id, val, status, name
        (1, 10.0, "O", "1-URGENT"),
        (1, -3.0, "F", "9-BOGUS"),   # dup id, negative, bad priority
        (None, None, "X", None),     # null id, null val, bad status
        (3, 0.05, "P", "5-LOW"),
    ]
    df = spark.createDataFrame(rows, "id long, val double, status string, name string")
    checks = [
        Check("pk", "id", "unique"),
        Check("id_present", "id", "not_null"),
        Check("val_nonneg", "val", "non_negative"),
        Check("val_range", "val", "in_range", lo=0.0, hi=5.0),
        Check("status_domain", "status", "accepted_values", values=("O", "F", "P")),
        Check("name_format", "name", "matches", pattern="^[1-5]-"),
    ]
    got = {r.check_name: (r.n_rows, r.n_violations, r.passed) for r in compile_suite(df, checks).collect()}
    assert got == {
        # unique: 4 rows, 3 distinct non-null ids minus... dup id=1 (1 extra) + null id (1) = 2
        "pk": (4, 2, False),
        "id_present": (4, 1, False),
        "val_nonneg": (4, 1, False),
        # out of [0,5]: 10.0 and -3.0 (null passes)
        "val_range": (4, 2, False),
        "status_domain": (4, 1, False),
        "name_format": (4, 1, False),
    }


def test_clean_table_passes_everything(spark):
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, val double")
    out = compile_suite(
        df,
        [Check("pk", "id", "unique"), Check("nonneg", "val", "non_negative")],
    ).collect()
    assert all(r.passed and r.n_violations == 0 for r in out)


def test_suite_is_one_aggregate_pass(spark):
    df = spark.createDataFrame([(1, 1.0)], "id long, val double")
    suite = compile_suite(
        df,
        [
            Check("pk", "id", "unique"),
            Check("nonneg", "val", "non_negative"),
            Check("range", "val", "in_range", lo=0.0, hi=9.0),
        ],
    )
    plan = suite._jdf.queryExecution().optimizedPlan().toString()
    # exactly one scan of the input: N checks never multiply reads
    assert plan.count("LogicalRDD") == 1


def test_empty_suite_yields_empty_tidy_frame(spark):
    """Zero checks (a filtered-down programmatic suite) must compile to an
    empty tidy frame, not an explode-of-empty-array analysis error."""
    df = spark.range(3)
    out = compile_suite(df, [])
    assert out.columns == [
        "check_name", "col_name", "n_rows", "n_violations", "passed"
    ]
    assert out.count() == 0


def test_accepted_values_empty_domain_flags_all_non_null(spark):
    """accepted_values with an empty values tuple: every non-null row
    violates (nulls pass), instead of isin(*()) throwing."""
    df = spark.createDataFrame([("a",), ("b",), (None,)], "x string")
    [row] = compile_suite(df, [Check("dom", "x", "accepted_values")]).collect()
    assert row.n_violations == 2 and not row.passed
