"""Streaming-engine registry entries (q165-q166, q176-q179).

These queries run the REAL Structured Streaming engine over the events
table and register the result against the same ANSI oracles the batch
forms use (q25's tumbling windows, q26's session islands, q65's interval
join, plain DISTINCT, latest-per-key). That makes the streaming path itself
value-hash-checked, not just pytest-mirrored: on a bounded input, a
correct streaming engine must produce byte-identical results to the batch
plan.

The reader, the memory-sink runner and the operators live in
`pandaspark.streaming`; this module holds the oracles, the registrations,
q176's stream-static join and q179's change-feed staging. Reference
parity: the reference (panda.py) is batch pandas with no streaming
surface, so this is beyond-reference capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register, sql_cents_sum
from .relational import _Q25_ORACLE
from ..session import read_parquet
from ..streaming import (
    dedup_stream,
    interval_join,
    read_event_stream,
    run_to_memory,
    session_windows,
    stream_cdc_apply,
    windowed_counts,
)


@register(
    "q165_stream_tumbling",
    _Q25_ORACLE,
    "Structured Streaming tumbling-window agg, hash-checked against batch SQL",
)
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(windowed_counts(read_event_stream(spark, sf_dir)), "q165_tumbling")


_Q166_ORACLE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
              OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_no
"""


@register(
    "q166_stream_sessions",
    _Q166_ORACLE,
    "Structured Streaming session windows, hash-checked against island SQL",
)
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(session_windows(read_event_stream(spark, sf_dir)), "q166_sessions")


# --- q176: stream-static broadcast enrichment ---------------------------------
#
# The third canonical streaming shape after q165's tumbling windows and
# q166's session state: a STREAM-STATIC join. Each micro-batch of events
# joins the static customer dimension (broadcast — the dim is loaded once
# per batch, never shuffled against the stream) and aggregates daily spend
# per market segment. On a bounded input this must be byte-identical to the
# batch join+agg, which is exactly what the oracle replays. At 100 TB the
# stream side scales with ingest rate while the dim stays a broadcast;
# state is bounded by open windows x segments (watermark evicts closed
# days).

_Q176_ORACLE = f"""
SELECT CAST(date_trunc('day', CAST(e.ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
       c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n,
       {sql_cents_sum('e.value', 'total_value')}
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def _q176_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-started streaming plan (exposed so plan gates can assert the
    dim join broadcasts before the state-store shuffle)."""
    e = read_event_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    dim = F.broadcast(
        read_parquet(spark, f"{sf_dir.rstrip('/')}/customer.parquet").select(
            F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
        )
    )
    return (
        e.join(dim, "user_id")
        .groupBy(F.window("ts", "1 day").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").alias("day"), "segment", "n", "total_value")
    )


@register(
    "q176_stream_static_join",
    _Q176_ORACLE,
    "Structured Streaming stream-static broadcast join + windowed agg vs batch SQL",
)
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(_q176_frame(spark, sf_dir), "q176_stream_static")


# --- q177: stream-stream interval join ----------------------------------------
#
# The fourth streaming shape: a STREAM-STREAM join. Each click pairs with
# the same user's views in the preceding 30 minutes. Both sides carry
# watermarks and the join bounds event time in both directions, so Spark
# can evict buffered rows that can never match again — state stays bounded
# on an unbounded stream. On a bounded replay the pairs must equal the
# batch interval join, which is exactly q65's oracle (relational3.py:471);
# registering the streaming plan here makes the join state machinery
# itself driver-hash-checked, not just pytest-mirrored
# (tests/test_streaming_multimodal.py asserts stream==batch across
# micro-batch boundaries for streaming.interval_join).

_Q177_ORACLE = """
SELECT a.user_id AS user_id, a.event_id AS click_event, b.event_id AS view_event
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'view'
 AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts
"""


def _q177_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-started streaming plan (exposed so plan gates can assert the
    double watermark + event-time-bounded join that keeps state evictable)."""
    return interval_join(read_event_stream(spark, sf_dir))


@register(
    "q177_stream_stream_join",
    _Q177_ORACLE,
    "Structured Streaming watermarked stream-stream interval join vs batch SQL",
)
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(_q177_frame(spark, sf_dir), "q177_stream_stream", mode="append")


# --- q178: streaming state-store dedup -----------------------------------------
#
# The fifth streaming shape: dropDuplicates through the dedup state store
# (streaming.dedup_stream — the in-flight form of the reference's
# fingerprint upsert, SURVEY.md S6/J1). Keyed on (user_id, event_type),
# where the fixtures carry real duplicates, and projecting ONLY the key so
# the output is deterministic under any arrival order — exactly DISTINCT.
# The watermark bounds dedup state at scale: keys older than the watermark
# are evicted because an at-least-once source can no longer re-deliver
# them.

_Q178_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register(
    "q178_stream_dedup",
    _Q178_ORACLE,
    "Structured Streaming state-store dropDuplicates vs batch DISTINCT",
)
def q178(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = dedup_stream(
        read_event_stream(spark, sf_dir), keys=["user_id", "event_type"]
    ).select("user_id", "event_type")
    return run_to_memory(deduped, "q178_stream_dedup", mode="append")


# --- q179: streaming CDC apply through the versioned store ---------------------
#
# The sixth streaming shape, and the one that drives the SINK machinery:
# events become a change feed on user_id ('error' = tombstone, anything
# else = upsert), range-partitioned by ts into four files and streamed one
# file per micro-batch, so stream_cdc_apply's foreachBatch path runs the
# real multi-batch protocol — within-batch latest-per-key reduction,
# merge_into (UPDATE / DELETE-tombstone / INSERT), and the crash-safe
# snapshot commit that batch N+1 reads back. Final state is a function of
# each user's LAST change only, which is exactly what the oracle replays;
# the range partitioning keeps each user's changes ordered across batches
# the way an ordered CDC log (binlog/WAL position) is in production.
# Reference semantic: the import loop's ON CONFLICT upsert
# (/root/reference/panda.py:713-728), here as live exactly-once streaming.

_Q179_ORACLE = """
WITH latest AS (
  SELECT user_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
  FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
FROM latest WHERE rn = 1 AND event_type <> 'error'
"""


@register(
    "q179_stream_cdc",
    _Q179_ORACLE,
    "foreachBatch CDC apply (upsert/tombstone + atomic snapshot commits) vs latest-per-key SQL",
)
def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from . import load

    work = tempfile.mkdtemp(prefix="q179_cdc_")
    # the returned frame reads the store lazily: the directory goes when
    # the interpreter exits
    atexit.register(shutil.rmtree, work, True)
    feed_dir, store_dir, ckpt = f"{work}/feed", f"{work}/store", f"{work}/ckpt"
    feed = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "event_type",
            "value",
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
        )
        # ascending ts ranges -> lexicographic part files -> the stream
        # replays each user's changes in commit order across micro-batches
        .repartitionByRange(4, "ts")
    )
    feed.write.mode("overwrite").parquet(feed_dir)
    # FileStreamSource replays files OLDEST-MTIME-FIRST, and the parallel
    # write stamps task-completion mtimes (random order) — restamp so the
    # mtime order equals the lexicographic (= ascending-ts-range) order,
    # like an ordered CDC log's commit positions
    import glob
    import os

    parts = sorted(glob.glob(f"{feed_dir}/part-*"))
    base = os.path.getmtime(parts[0])
    for i, p in enumerate(parts):
        os.utime(p, (base + 10 * i, base + 10 * i))
    change_stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    q = stream_cdc_apply(change_stream, store_dir, ckpt, key="user_id", ts_col="ts")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from ..store import latest_commit_path

    final = read_parquet(spark, latest_commit_path(spark, store_dir))
    return final.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )
