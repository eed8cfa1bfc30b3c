"""Empty-input behavior of the column-profiling queries (q136/q197) and
of q134's power iteration.

Both profiling queries compute their non-null row counts as a SUM over a
per-value histogram; on an EMPTY table that SUM is NULL where the DuckDB
oracles' count(col) is 0. The queries coalesce the sum to 0. q134 builds
its result on the driver from the rows each iteration collects, and none
come back from an empty table. These tests run the FULL driver-style
compare — Spark query AND registered oracle SQL, both against zero-row
copies of the fixtures — so an sf-dir with an empty table provably
hash-matches the oracle on both engines (reference parity: the
reference's profiling paths emit 0-counts on empty frames too).
"""
from __future__ import annotations

import math
import os

import duckdb
import pytest

from pandaspark.queries import REGISTRY
from tests.conftest import SF_DIR


_TABLES = ("lineitem", "documents", "orders", "embeddings")


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """Zero-row copies of the tables q136/q197/q134 read, exact same schemas."""
    d = str(tmp_path_factory.mktemp("empty_sf"))
    for t in _TABLES:
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).limit(0).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"{t}.parquet"))
    return d


def _norm(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return f"b{int(v)}"
    return str(v)


def _oracle_rows(empty_sf_dir, sql):
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(empty_sf_dir, t + '.parquet')}/*.parquet'"
        )
    rows = con.execute(sql).fetchall()
    cols = [c[0] for c in con.description]
    con.close()
    return cols, rows


def _assert_driver_compare(sdf, srows, ocols, orows):
    cols = sdf.columns
    key = lambda names, row: "|".join(
        _norm(row[i]) for i in sorted(range(len(names)), key=lambda j: names[j])
    )
    assert sorted(cols) == sorted(ocols)
    assert sorted(key(cols, tuple(r)) for r in srows) == sorted(
        key(ocols, r) for r in orows
    )


def test_q136_profiles_empty_table_as_zero_counts(spark, empty_sf_dir):
    spec = REGISTRY["q136_column_profile"]
    sdf = spec.fn(spark, empty_sf_dir)
    srows = sdf.collect()
    rows = {r["col_name"]: r for r in srows}
    assert set(rows) == {"l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"}
    for r in rows.values():
        # count(col) semantics on empty input: 0, never NULL
        assert r["n_nonnull"] == 0
        assert r["n_distinct"] == 0
        assert r["min_val"] is None and r["max_val"] is None
    # full driver-style compare against the registered oracle SQL run on
    # the same empty fixtures (not just Spark-side value pins)
    ocols, orows = _oracle_rows(empty_sf_dir, spec.oracle)
    _assert_driver_compare(sdf, srows, ocols, orows)


def test_q197_prices_empty_tables_as_zero_counts(spark, empty_sf_dir):
    spec = REGISTRY["q197_encoding_advisor"]
    sdf = spec.fn(spark, empty_sf_dir)
    srows = sdf.collect()
    assert len(srows) == 6
    for r in srows:
        assert r["n_values"] == 0
        assert r["ndv"] == 0
        # byte sums stay NULL on empty input on BOTH engines (sum over
        # zero rows), so dict/plain pricing and the verdict are NULL too
        assert r["plain_bytes"] is None
        assert r["dict_bytes"] is None
        assert r["use_dict"] is None
    ocols, orows = _oracle_rows(empty_sf_dir, spec.oracle)
    _assert_driver_compare(sdf, srows, ocols, orows)


def test_q134_returns_no_direction_for_an_empty_table(spark, empty_sf_dir):
    spec = REGISTRY["q134_power_iteration"]
    sdf = spec.fn(spark, empty_sf_dir)
    srows = sdf.collect()
    assert srows == []
    ocols, orows = _oracle_rows(empty_sf_dir, spec.oracle)
    _assert_driver_compare(sdf, srows, ocols, orows)
