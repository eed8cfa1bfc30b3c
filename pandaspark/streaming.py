"""Structured Streaming operators (SURVEY.md §2.9).

Everything here runs under the registry's streaming entries
(queries/streaming_reg.py: q165, q166, q176-q179), which replay the
bounded events table through the live engine and are value-hash-checked
against batch SQL oracles:

- `read_event_stream`: the file-source events stream, with the same
  two-generation timestamp dispatch as queries.load().
- `run_to_memory`: drives a bounded stream to completion into a memory sink.
- `windowed_counts`, `session_windows`, `dedup_stream`, `interval_join`:
  watermarked stateful operators (tumbling windows, session windows,
  state-store dedup, stream-stream interval join). Each watermark bounds
  its operator's state on an unbounded stream.
- `stream_cdc_apply`: a change feed applied through foreachBatch to the
  versioned snapshot store, one atomic commit per micro-batch.
"""

from __future__ import annotations

import itertools
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import latest_per_key
from .session import events_ts, pin_read_confs, read_parquet

_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_EVENTS_NANOS = T.StructType(
    [f if f.name != "ts" else T.StructField("ts", T.LongType()) for f in _EVENTS_SCHEMA]
)

_uid = itertools.count()

# stream_cdc_apply's change-feed convention: an `op` column whose value
# "delete" marks a tombstone; any other value is an upsert
_OP_COL = "op"
_DELETE_OP = "delete"

# event-time settings of the stateful operators (the registry's values)
_WATERMARK = "2 hours"
_WINDOW = "1 hour"  # windowed_counts' tumbling window
_SESSION_GAP = "30 minutes"  # session_windows' inactivity gap
# interval_join pairs each click with the same user's views in the
# preceding _LOOKBACK
_LEFT_TYPE = "click"
_RIGHT_TYPE = "view"
_LOOKBACK = "30 minutes"


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source event stream with the same confs and two-generation ts
    dispatch as queries.load(): nanos-int64 fixtures stream as LongType and
    truncate to micros; native-timestamp fixtures stream as TimestampType
    directly."""
    pin_read_confs(spark)
    base = sf_dir.rstrip("/")
    batch_ts = read_parquet(spark, f"{base}/events.parquet").schema["ts"].dataType
    # the file source rejects a plain single-file path ("basePath must be a
    # directory"); a glob is accepted and resolves basePath to the parent,
    # covering both fixture layouts (single file and multi-part directory)
    schema = _EVENTS_NANOS if isinstance(batch_ts, T.LongType) else _EVENTS_SCHEMA
    return events_ts(
        spark.readStream.format("parquet").schema(schema).load(f"{base}/events.[p]arquet")
    )


def run_to_memory(df: DataFrame, prefix: str, mode: str = "complete") -> DataFrame:
    """Drive a bounded stream to completion into a uniquely-named memory
    sink (callers run each query repeatedly in one session).
    Aggregating plans use complete mode; joins/maps append."""
    name = f"{prefix}_{next(_uid)}"
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


def windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling event-time window aggregation with late-data watermark.

    The watermark bounds streaming state: windows older than max(event_time)
    - watermark are finalized and evicted — mandatory for unbounded streams.
    Batch mirror: queries/relational.py q25 (hourly date_trunc) — same
    semantics, oracle-checked there.
    """
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", _WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "total_value")
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Native session windows: a session closes after _SESSION_GAP of user
    inactivity. Batch mirror: q26 (lag + gap cumsum) — same session
    boundaries for micro-precision timestamps.
    """
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.session_window("ts", _SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), F.col("w.end").alias("session_end"), "n_events"
        )
    )


def dedup_stream(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Streaming exactly-once dedup via the state store: the native form of
    the reference's fingerprint upsert (SURVEY.md S6/J1) for in-flight data
    — a re-delivered event (at-least-once source, retried file, replayed
    partition) is dropped before it ever reaches a sink. The watermark
    bounds dedup state: a key older than the watermark can be evicted
    because the source can no longer legally re-deliver it. Batch mirror:
    plain dropDuplicates on the same keys (exact for unique-keyed data);
    asserted equal across micro-batch boundaries in tests."""
    keyed = keys or ["event_id"]
    return events.withWatermark("ts", _WATERMARK).dropDuplicates(keyed)


def interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: each click pairs with the same user's
    views in the preceding _LOOKBACK window.

    Both sides carry watermarks and the join condition bounds event time in
    both directions — the two requirements for Spark to know when a buffered
    row can never match again and evict it, keeping state bounded on an
    unbounded stream. Batch mirror: queries/relational3.py q65 (identical
    pairs, oracle-checked); tests assert stream==batch across micro-batches.

    The state store shuffles both sides by user, so a hot user lands all
    its buffered rows, and its quadratic output, in one state partition
    (docs/SCALING.md, skew section).
    """
    left = (
        events.filter(F.col("event_type") == _LEFT_TYPE)
        .select("user_id", F.col("event_id").alias("click_event"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", _WATERMARK)
    )
    right = (
        events.filter(F.col("event_type") == _RIGHT_TYPE)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_event"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", _WATERMARK)
    )
    cond = (
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {_LOOKBACK}"))
        & (F.col("view_ts") <= F.col("click_ts"))
    )
    return left.join(right, cond).select("user_id", "click_event", "view_event")


def _stream_upsert_to_store(
    batch_stream: DataFrame,
    store_path: str,
    apply_batch: Callable[[DataFrame, DataFrame], DataFrame],
    checkpoint: str,
    prepare_first: Callable[[DataFrame], DataFrame] | None = None,
):
    """foreachBatch exactly-once sink: every micro-batch runs the SAME
    merge as the batch path (e.g. store.upsert) against the CURRENT store
    snapshot and commits the result as a new snapshot via the versioned
    atomic-commit protocol (store.commit_snapshot): batch N+1 reads batch
    N's merge, and a crash mid-write leaves the previous snapshot intact.

    Exactly-once: Spark may re-run a micro-batch after failure (same
    epoch). The merge function must therefore be idempotent — fingerprint/
    key-based upserts are (re-applying the same rows is a no-op) — which
    is the same property the reference's ON CONFLICT upsert relies on
    (panda.py:713-728).
    """
    from .store import commit_snapshot, gc_snapshots, latest_commit_path

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        current = latest_commit_path(spark, store_path)
        store = read_parquet(spark, current) if current is not None else None
        if store is None:
            # no snapshot yet: the first batch seeds the store (optionally
            # normalized by prepare_first, e.g. within-batch dedup)
            merged = prepare_first(batch_df) if prepare_first else batch_df
        else:
            merged = apply_batch(store, batch_df)
        commit_snapshot(merged, store_path)
        gc_snapshots(spark, store_path)

    return (
        batch_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_cdc_apply(
    change_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    key: str,
    ts_col: str,
):
    """Streaming CDC apply — the foreachBatch MERGE pattern Delta documents
    for change feeds, on the engine's own snapshot store: each micro-batch
    is a change feed carrying an `op` column ('delete' = tombstone, anything
    else = upsert), is reduced to the LATEST change per key within the
    batch (by (ts, op) with a fixed tie order — deterministic under
    replay), and applied to the current snapshot through store.merge_into:

        MATCHED  + last op is delete  -> DELETE   (tombstone)
        MATCHED                       -> UPDATE   (take batch values)
        NOT MATCHED + non-delete      -> INSERT   (delete of absent key: no-op)

    Exactly-once by composition: the reduction and merge are deterministic
    functions of (snapshot, batch), so a replayed micro-batch recommits an
    identical snapshot; a crash mid-write leaves the previous version
    current (same protocol as _stream_upsert_to_store). One full-outer
    shuffle on the key per micro-batch; the store never rewrites more than
    the merge output."""
    from .store import merge_into

    def _apply(store: DataFrame, batch: DataFrame) -> DataFrame:
        b = latest_per_key(batch, [key], [ts_col, _OP_COL])
        data_cols = [c for c in store.columns if c != key]
        return merge_into(
            store,
            b,
            [key],
            matched_update={c: f"s.{c}" for c in data_cols if c in b.columns},
            matched_delete=f"s.{_OP_COL} = '{_DELETE_OP}'",
            not_matched_insert={c: f"s.{c}" for c in store.columns},
            not_matched_insert_condition=f"s.{_OP_COL} <> '{_DELETE_OP}'",
        )

    def _first(batch: DataFrame) -> DataFrame:
        b = latest_per_key(batch, [key], [ts_col, _OP_COL])
        keep = b.filter(F.col(_OP_COL) != _DELETE_OP)
        return keep.drop(_OP_COL)

    return _stream_upsert_to_store(
        change_stream,
        store_path,
        _apply,
        checkpoint,
        prepare_first=_first,
    )
