"""Atomic versioned store commit (batch + streaming).

The reference's DuckDB store commits atomically (panda.py:713-728: a
crashed import can't destroy committed rows). These tests pin the parquet
substitute: snapshot versioning with the `_SUCCESS` marker as the commit
point, for both the batch `write_store` path and the streaming
`_stream_upsert_to_store` sink — including the lost-batch regression where
micro-batch N+1 must observe micro-batch N's merge.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import functions as F

from pandaspark.queries import load
from pandaspark.store import (
    commit_snapshot,
    gc_snapshots,
    latest_commit_path,
    read_store,
    write_store,
)
from pandaspark.streaming import _stream_upsert_to_store

from .conftest import SF_DIR, paced_stream


def _touch_garbage_version(root: str, version: int, name: str = "part-junk") -> None:
    """Simulate a crashed write: a version dir with data but NO _SUCCESS."""
    d = pathlib.Path(root) / f"v{version:06d}"
    d.mkdir(parents=True)
    (d / name).write_bytes(b"partial write, job died before commit")


def _transactions(spark, n: int, category: str | None, balance_cents: int | None):
    """The first n orders as a storage frame: one transaction per order,
    fingerprinted on the order key."""
    return load(spark, SF_DIR, "orders").limit(n).select(
        F.col("o_orderkey").alias("transaction_id"),
        F.lit("giro").alias("account"),
        F.col("o_orderdate").alias("book_date"),
        F.col("o_orderdate").alias("valuta_date"),
        F.col("o_orderpriority").alias("party"),
        F.lit(None).cast("string").alias("book_text"),
        F.col("o_orderstatus").alias("purpose"),
        (F.col("o_totalprice") * 100).cast("long").alias("amount_cents"),
        F.lit(balance_cents).cast("long").alias("balance_cents"),
        F.lit(None).cast("string").alias("transfer_category"),
        F.lit(category).cast("string").alias("category"),
        F.lit(None).cast("string").alias("category_manual"),
        F.sha2(F.col("o_orderkey").cast("string"), 256).alias("fingerprint"),
        F.current_timestamp().alias("imported_at"),
    )


def test_commit_snapshot_is_crash_safe(spark, tmp_path):
    root = str(tmp_path / "store")
    df1 = spark.range(5).withColumn("x", F.col("id") * 2)
    p1 = commit_snapshot(df1, root)
    assert p1.endswith("v000001") and latest_commit_path(spark, root) == p1

    # crashed writer: garbage v2 without _SUCCESS must be invisible to
    # readers and must not block the next committer
    _touch_garbage_version(root, 2)
    assert latest_commit_path(spark, root) == p1
    assert spark.read.parquet(latest_commit_path(spark, root)).count() == 5

    p3 = commit_snapshot(df1.withColumn("x", F.col("x") + 1), root)
    assert p3.endswith("v000003")  # skipped the garbage slot
    assert latest_commit_path(spark, root) == p3


def test_gc_keeps_live_window_and_drops_garbage(spark, tmp_path):
    root = str(tmp_path / "store")
    for i in range(4):
        commit_snapshot(spark.range(i + 1), root)
    # v1 becomes old garbage (commit marker lost), v5 is garbage NEWER than
    # current (a write possibly in flight — GC must not touch it)
    os.remove(f"{root}/v000001/_SUCCESS")
    _touch_garbage_version(root, 5)

    dropped = gc_snapshots(spark, root)
    assert set(dropped) == {1, 2}
    assert os.path.isdir(f"{root}/v000005")
    assert latest_commit_path(spark, root).endswith("v000004")
    assert spark.read.parquet(latest_commit_path(spark, root)).count() == 4
    # the previous snapshot is retained
    assert spark.read.parquet(f"{root}/v000003").count() == 3


def test_write_store_never_clobbers_previous_snapshot(spark, tmp_path):
    root = str(tmp_path / "txstore")
    df = _transactions(spark, 50, None, None)
    write_store(df, root)
    first = read_store(spark, root).count()
    write_store(df.limit(20), root)
    assert read_store(spark, root).count() == 20
    # both snapshots exist on disk; the first is still fully readable
    assert spark.read.parquet(f"{root}/v000001").count() == first == 50


def _event_slices(spark):
    """Three event slices, the contents of files f0..f2: disjoint, except
    that f2 RE-DELIVERS f0's rows with value bumped by 1000 — a merge must
    update them, not duplicate them."""
    events = load(spark, SF_DIR, "events").limit(300).cache()
    s1 = events.filter(F.col("event_id") % 3 == 0)
    s2 = events.filter(F.col("event_id") % 3 == 1)
    s3 = s1.withColumn("value", F.col("value") + 1000.0)
    return [s1, s2, s3]


def _merge(store, batch):
    # key-based upsert, batch wins — idempotent, like the fingerprint
    # MERGE that store.upsert_to_path commits
    return store.join(batch, "event_id", "left_anti").unionByName(batch)


def _run_upsert_stream(spark, src, root: str, checkpoint: str) -> None:
    """Drive _stream_upsert_to_store over every file under `src`, one
    micro-batch per file, until it has seen them all; then stop it."""
    q = _stream_upsert_to_store(
        paced_stream(spark, str(src) + "/f*"), root, _merge, checkpoint=checkpoint
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _assert_store_is_batch_fold(spark, src, root: str, slices) -> None:
    """The store at `root` equals folding _merge over src/f0..f2 in batch
    mode, and f2's re-delivered rows carry its bumped values."""
    want = None
    for i in range(3):
        b = spark.read.parquet(str(src / f"f{i}"))
        want = b if want is None else _merge(want, b)

    got = spark.read.parquet(latest_commit_path(spark, root))
    assert got.count() == want.count() == slices[0].count() + slices[1].count()
    g = {r.event_id: r.value for r in got.collect()}
    w = {r.event_id: r.value for r in want.collect()}
    assert g == w
    # re-delivered rows took the batch value (+1000), proving batch 3 saw
    # batch 1's rows in the store it read
    bumped = [v for v in g.values() if v >= 1000.0]
    assert len(bumped) == slices[0].count()


def test_stream_upsert_chains_micro_batches(spark, tmp_path):
    """The lost-batch regression: with maxFilesPerTrigger=1 forcing one
    micro-batch per file, every batch's merge must be visible to the next —
    the final store must equal folding the same merge over the files in
    batch mode. The old implementation wrote `store_path+'_next'` and never
    swapped, so all but the last batch vanished."""
    src, slices = tmp_path / "src", _event_slices(spark)
    for i, s in enumerate(slices):
        s.coalesce(1).write.parquet(str(src / f"f{i}"))
    root = str(tmp_path / "stream_store")
    _run_upsert_stream(spark, src, root, str(tmp_path / "ck"))
    _assert_store_is_batch_fold(spark, src, root, slices)


def test_stream_upsert_restarts_from_its_checkpoint(spark, tmp_path):
    """A durable stream stopped after file 1 and restarted on the same
    checkpoint once files 2 and 3 arrive resumes where it stopped: the
    offset and commit logs tell the restarted query which file it has
    already applied. The store ends as the batch fold, and there is one
    committed snapshot version per micro-batch, so no batch ran twice."""
    src, slices = tmp_path / "src", _event_slices(spark)
    root, ck = str(tmp_path / "stream_store"), tmp_path / "ck"
    slices[0].coalesce(1).write.parquet(str(src / "f0"))
    _run_upsert_stream(spark, src, root, str(ck))
    assert latest_commit_path(spark, root).endswith("v000001")

    for i in (1, 2):
        slices[i].coalesce(1).write.parquet(str(src / f"f{i}"))
    _run_upsert_stream(spark, src, root, str(ck))

    _assert_store_is_batch_fold(spark, src, root, slices)
    batches = sorted(int(n) for n in os.listdir(ck / "commits") if n.isdigit())
    assert batches == [0, 1, 2]
    assert latest_commit_path(spark, root).endswith(f"v{len(batches):06d}")


def test_upsert_to_path_folds_batches_through_snapshots(spark, tmp_path):
    """The durable MERGE folds batches through the atomic snapshot protocol
    with ON-CONFLICT semantics (matched rows take the batch's derived
    fields, keep store identity fields)."""
    from pandaspark.store import latest_commit_path, upsert_to_path

    root = str(tmp_path / "seam")
    base = _transactions(spark, 50, "a", 100)
    upsert_to_path(spark, root, base)
    # second batch: the even orders of the first 65, new category: the
    # ones among the first 50 overlap, the rest are new rows
    b2 = _transactions(spark, 65, "b", 200).filter(F.col("transaction_id") % 2 == 0)
    upsert_to_path(spark, root, b2)
    got = spark.read.parquet(latest_commit_path(spark, root))
    n_base, n_b2 = base.count(), b2.count()
    n_overlap = base.join(b2, "fingerprint", "left_semi").count()
    assert got.count() == n_base + n_b2 - n_overlap
    # matched rows took the batch's category
    assert (
        got.join(b2.select("fingerprint"), "fingerprint", "left_semi")
        .filter(F.col("category") != "b")
        .count()
        == 0
    )


def test_stream_cdc_apply_with_tombstones(spark, tmp_path):
    """Streaming CDC apply: three change-feed micro-batches with upserts,
    tombstone deletes (including delete-then-reinsert across batches, a
    within-batch update+delete race resolved by latest-ts, and a delete of
    a never-seen key), folded through foreachBatch MERGE. The expectation
    is an independent Python fold of the change log."""
    from pandaspark.streaming import stream_cdc_apply
    from pandaspark.store import latest_commit_path

    schema = "k bigint, val string, ts bigint, op string"
    b1 = [(1, "a1", 10, "upsert"), (2, "b1", 11, "upsert"), (3, "c1", 12, "upsert")]
    b2 = [
        (2, "b2", 20, "upsert"),   # update
        (3, None, 21, "delete"),   # tombstone
        (4, "d1", 22, "upsert"),   # insert
        (9, None, 23, "delete"),   # delete of absent key: no-op
        (5, "e1", 24, "upsert"),   # within-batch: upserted then deleted...
        (5, None, 25, "delete"),   # ...latest wins -> never lands
    ]
    b3 = [(3, "c2", 30, "upsert")]  # re-insert after tombstone
    src = tmp_path / "cdc_src"
    for i, b in enumerate((b1, b2, b3)):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(str(src / f"f{i}"))

    stream = paced_stream(spark, str(src) + "/f*")
    root = str(tmp_path / "cdc_store")
    q = stream_cdc_apply(
        stream, root, checkpoint=str(tmp_path / "ck_cdc"), key="k", ts_col="ts"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # independent fold of the change log
    state: dict = {}
    for b in (b1, b2, b3):
        latest: dict = {}
        for k, val, ts, op in b:
            if k not in latest or ts > latest[k][1]:
                latest[k] = (val, ts, op)
        for k, (val, ts, op) in latest.items():
            if op == "delete":
                state.pop(k, None)
            else:
                state[k] = (val, ts)

    got = {
        r.k: (r.val, r.ts)
        for r in spark.read.parquet(latest_commit_path(spark, root)).collect()
    }
    assert got == state == {1: ("a1", 10), 2: ("b2", 20), 4: ("d1", 22), 3: ("c2", 30)}
    # the store schema carries no op column
    assert "op" not in spark.read.parquet(latest_commit_path(spark, root)).columns
