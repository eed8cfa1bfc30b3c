"""SparkSession factory tuned for the local[32] harness, the read rules
every registry table read applies to the caller's session, and the one
parquet table reader (read_parquet), which remembers per session the
schema Spark inferred for an unchanged set of files.

At cluster scale the same settings apply, except shuffle partitions should
track executor cores (AQE coalesces down at runtime, so erring high is safe).
"""

from __future__ import annotations

import functools
import gc
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def get_spark(app_name: str = "pandaspark", aqe: bool = True) -> SparkSession:
    """aqe: adaptive query execution. ON is the production default (runtime
    shuffle coalescing, skew-join splitting — non-negotiable at 100 TB).
    At toy scale (every shuffle ≪ one target partition) AQE has nothing to
    adapt, while each adaptive stage boundary costs a stage-materialize +
    replan round-trip that dwarfs the query itself — measured at sf0.1:
    q11 rollup 1.17s→0.41s, q34 LSH 2.03s→1.37s with AQE off, identical
    plans otherwise. bench_session passes aqe=False only below a data-size
    threshold; correctness runs and tests keep the production setting.

    Call-site capture (spark.python.sql.dataFrameDebugging.enabled) is
    pinned off. PySpark 4.1 turns it on by default and then records the
    Python call site of every Column operation in the JVM: each F.col,
    F.when or comparison costs extra py4j round trips, which made building
    the 330-rule cascade take ~23,700 round trips (~5.5 s on 4 vCPUs)
    before any job ran. With it off, an analysis error loses PySpark's
    `== DataFrame ==` call-site block but keeps its message and the JVM
    stack trace."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true" if aqe else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # the codegen class cache defaults to 100 entries JVM-wide; a
        # 201-query workload compiles ~5-10 WholeStageCodegen classes per
        # query, so at the default every query re-pays janino compilation
        # whenever >= ~15 other queries ran since its last execution
        # (measured at sf0.1: q58's first run after a 30-query churn 3.1 s
        # vs 2.3 s with the cache sized to hold the whole workload).
        # Metaspace cost is a few KB per entry — negligible
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        # no stderr progress bars: the bench driver captures a bounded tail
        # of merged output, and \r-spam competes with the JSON result line
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def bench_session(sf_dir: str, app_name: str) -> SparkSession:
    """get_spark with the bench's scale rule, for bench.py and every script
    whose numbers must match it. Below 1 GiB of parquet input at `sf_dir`:
    - AQE is off. There is nothing for it to adapt (every shuffle already
      fits one target partition), and its per-stage replan round trips
      dominate sub-second queries.
    - PANDASPARK_SHUFFLE_PARTITIONS defaults to 8. 32-way task scheduling
      is pure overhead there (measured at sf0.1: q66 1.7s->0.96s, q82
      1.7s->1.3s). Map-side parallelism is unaffected: queries.spread()
      pins compute stages to defaultParallelism."""
    data_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    small = data_bytes < 1 << 30
    if small:
        os.environ.setdefault("PANDASPARK_SHUFFLE_PARTITIONS", "8")
    return get_spark(app_name, aqe=not small)


def release(spark: SparkSession, i: int) -> None:
    """Hygiene between timed runs, for bench.py and every script whose
    numbers must match it; call it outside the timed region.

    A finished query's localCheckpoint RDDs are dead but stay cached until
    the JVM's ContextCleaner notices, which needs a Python GC (drops the
    py4j handles) and then a JVM GC. Until then the next query pays
    block-store rent for them (measured at sf0.1: q138 3.26 s in-bench vs
    0.94 s in a fresh session; GC alone still left ~0.5 s/query on
    checkpoint-heavy names). So every persistent RDD is unpersisted
    directly, blocking: asynchronous removal bleeds block-manager work
    into the next timed run as multi-second spikes. The GCs run when
    `i % 15 == 14`, which keeps their pause amortized."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    if i % 15 == 14:
        gc.collect()
        spark._jvm.System.gc()


# the one parquet-inference conf the package or its tests change on a live
# session: a TIMESTAMP(NANOS) column infers as LongType with it on and
# cannot be read with it off
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def pin_read_confs(spark: SparkSession) -> None:
    """The confs a registry read sets on the caller's session, which may be
    a default-config one (the batch loader and the event stream share them):
    - the session timezone is UTC, so naive parquet timestamps read the
      same under any host or session zone.
    - shuffles are sized to the machine (200 partitions by default; AQE
      coalesces further). PANDASPARK_SHUFFLE_PARTITIONS overrides for
      sub-GiB runs where per-task scheduling overhead dominates shuffle
      width (bench_session sets it scale-aware); unset, it tracks the
      machine, the production default. The streaming state store
      hash-partitions on this width too.
    - TIMESTAMP(NANOS) columns read as int64 nanoseconds (see events_ts)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get(
            "PANDASPARK_SHUFFLE_PARTITIONS",
            str(spark.sparkContext.defaultParallelism),
        ),
    )
    spark.conf.set(_NANOS_AS_LONG, "true")


def events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a session-TZ (UTC) TimestampType column of
    micros, batch or stream. events.ts has shipped in two physical forms
    across test-data generations: TIMESTAMP(NANOS) (readable only via the
    nanosAsLong conf, which surfaces it as int64 nanoseconds) and plain
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (the current fixtures, read
    natively as TIMESTAMP_NTZ). This dispatches on the OBSERVED type:
    LongType means the nanos path, anything else the native path."""
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # Floor division, not `div` (truncate-toward-zero): pre-epoch
        # nanos must round DOWN to the containing microsecond to match
        # floor-semantics oracles. Identical for the 2024+ fixtures.
        # Stay in integer arithmetic — floor(ts/1000.0) would round
        # through a 53-bit double on ~1.7e18 nano values. Subtracting
        # pmod (always in [0,1000)) makes the numerator an exact
        # multiple, so `div` equals mathematical floor for any sign.
        return df.withColumn("ts", F.expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


@functools.lru_cache(maxsize=1)
def _path_class(jvm):
    """org.apache.hadoop.fs.Path, looked up once per JVM: py4j resolves a
    dotted class name one package per round trip, ~2.5 ms for this one on
    4 vCPUs."""
    return jvm.org.apache.hadoop.fs.Path


def _hadoop_fs(spark: SparkSession, path: str):
    """(the Hadoop FileSystem of `path`, the Path class)."""
    Path = _path_class(spark._jvm)
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


# Weak-keyed like queries._SPREAD_CONF_CACHE, so a session's schemas die
# with it: session -> {path: ((data files, nanosAsLong), schema)}
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _data_files(spark: SparkSession, path: str) -> tuple:
    """(path, length, modification time) of every data file under `path`
    (the file itself for a single-file table), listed through the Hadoop
    FileSystem so local and remote tables take one code path. Spark skips
    names starting with '_' or '.' (_SUCCESS, .crc, _temporary), and so
    does this. A missing path lists nothing.

    listStatus, not listFiles: listFiles returns LocatedFileStatus, whose
    constructor reads each local file's owner and permissions, which the
    local FileSystem gets by running a `stat` process per file (~4 ms a
    file measured on 4 vCPUs)."""
    fs, Path = _hadoop_fs(spark, path)
    todo = [Path(path)]
    if not fs.exists(todo[0]):
        return ()
    files = []
    while todo:
        for st in fs.listStatus(todo.pop()):
            p = st.getPath()
            if p.getName().startswith(("_", ".")):
                continue
            if st.isDirectory():
                todo.append(p)
            else:
                files.append((p.toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path), minus the schema-inference job on a repeat
    read. Inference costs one Spark job per read: a warm read of orders at
    sf0.1 takes 95-125 ms inferring and ~27 ms from here, the file listing
    included (medians of 30, 4 vCPUs). The first read of a path records
    the inferred schema together with the identity of its files and the
    nanosAsLong conf; a later read in the same session whose files and conf
    are unchanged passes that schema back and launches no job. A rewritten
    file changes its length or mtime and so reads afresh. The other
    parquet-inference confs (mergeSchema, binaryAsString, ...) are assumed
    fixed for the session: nothing in the package changes them. Every read
    still scans the files: only the schema is remembered."""
    ident = (_data_files(spark, path), spark.conf.get(_NANOS_AS_LONG))
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(path)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[path] = (ident, df.schema)
    return df
