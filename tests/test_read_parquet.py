"""Spark jobs started while a query builds: the one parquet reader
(session.read_parquet) and q134's power iteration.

read_parquet remembers, per session, the schema Spark inferred for an
unchanged set of files, so a repeat read launches no inference job. These
tests pin what may not be remembered: a rewritten file, a flipped
inference conf. Jobs are counted with the status tracker under a job
group, the way perfbench's traced runs count them.
"""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandaspark.queries import REGISTRY
from pandaspark.queries.pipeline8 import _PI_ITERS
from pandaspark.session import read_parquet
from pandaspark.store import commit_snapshot, latest_commit_path

from .conftest import SF_DIR

_groups = itertools.count()


def _jobs(spark, build):
    """(build(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"build-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_read_of_unchanged_files_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    first, n_first = _jobs(spark, lambda: read_parquet(spark, path))
    again, n_again = _jobs(spark, lambda: read_parquet(spark, path))
    assert n_first >= 1  # the counter sees the inference job
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(r.a for r in again.collect()) == [1, 2, 3]


def test_rewritten_file_shows_its_new_column(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_nanos_type_follows_the_inference_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) column reads as LongType with nanosAsLong on and
    cannot be read with it off. A schema remembered under one setting must
    not be served under the other."""
    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_000_000_123], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, version="2.6")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, T.LongType)
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
        spark.conf.set(conf, "true")
        df = read_parquet(spark, path)
        assert isinstance(df.schema["ts"].dataType, T.LongType)
        assert df.collect()[0].ts == 1_700_000_000_000_000_123
    finally:
        spark.conf.set(conf, old)


def test_partitioned_snapshot_reads_the_same_from_the_memo(spark, tmp_path):
    root = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(1, "2023-05-01", 100), (2, "2024-01-15", -250), (3, "2024-07-30", 75)],
        "transaction_id long, book_date string, amount_cents long",
    ).withColumn("book_date", F.to_date("book_date"))
    # write_store's layout: one directory per book_year
    commit_snapshot(df.withColumn("book_year", F.year("book_date")), root, ["book_year"])
    snap = latest_commit_path(spark, root)
    first = read_parquet(spark, snap)
    again, n_again = _jobs(spark, lambda: read_parquet(spark, snap))
    assert n_again == 0
    assert "book_year" in first.columns
    assert again.schema == first.schema == spark.read.parquet(snap).schema
    rows = sorted(tuple(r) for r in first.collect())
    assert sorted(tuple(r) for r in again.collect()) == rows
    assert [r[-1] for r in rows] == [2023, 2024, 2024]


def test_q134_builds_in_one_job_per_iteration(spark):
    """Each power iteration is one aggregate whose <= 64 rows the driver
    collects; the next direction rides in the plan as a literal. Once the
    embeddings read is remembered, nothing else starts a job. AQE is off,
    as in the bench session at this scale: on, every shuffle adds a job."""
    fn = REGISTRY["q134_power_iteration"].fn
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        want = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
        df, n = _jobs(spark, lambda: fn(spark, SF_DIR))
        assert n == _PI_ITERS
        assert sorted(tuple(r) for r in df.collect()) == want
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
