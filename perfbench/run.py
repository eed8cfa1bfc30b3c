#!/usr/bin/env python3
"""Layered benchmark for pandaspark.

    python3 perfbench/run.py --workload driver_heavy --seed 1 --seconds 10 --trace 0

Run from the repository root. Each workload is a closed loop: one client runs
a fixed operation list (WORKLOADS below) in sequence, in one process, on a
local[nproc] session built the way bench.py builds its own.

- `driver_heavy`: registry queries whose time goes mostly into the driver
  build (per-iteration round trips, eager side jobs, streaming micro-batch
  orchestration). One operation is one query: its build, the physical
  planning, then the execution of that plan.
- `import_upsert`: the CLI's daily import on seeded ING CSV batches. One
  operation is one batch, imported step by step as `ing-import` does it
  (read, in-batch dedup, rule cascade, id assignment, the copy-on-write
  upsert), then the analysis reports over the new store.

A run generates its inputs from --seed, starts the session and warms up
untimed, checking outputs as it goes: each query's rows against its DuckDB
oracle, or the store's row count, its ids and a repeated import. Then it
runs whole passes until --seconds have elapsed, and at least two. With
--trace 0 it reports the end-to-end metrics:

- wall_s: one pass, as the sum over operations and their layer calls of
  each call's fastest time (see fastest())
- setup_s: session start, input generation (median of three) and warm-up

The median and p90 operation latency and the failed fraction go in the
detail line instead: a run holds 4 to 12 samples of two or three distinct
operations, so its median is one operation's time, noisier than wall_s and
telling no more, and no percentile has ten samples beyond it.

With --trace 1 it alternates untraced passes with traced ones, in which
every layer call runs under its own Spark job group. Job and stage counts
per layer come from the status tracker, executor work from the Spark event
log, and each layer metric is the median over traced passes of its total
per pass. A traced operation whose layer times do not add up to its wall
time within SPLIT_TOLERANCE_S counts as failed.

The last stdout line is one JSON object {"correct", "attempted", "failed",
"metrics"}. The line before it holds details: per-operation medians and
fastest() latencies, the p50 and p90 latency, the failed fraction, error
texts and the session's confs.

All files go under .perfbench/ in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import gc
import glob
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import fields

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from metrics import PLAN_COUNTS, percentile, plan_shape  # noqa: E402

#: driver_heavy's queries, run in this order and never in registry order
#: (the registry reorders itself between rounds). Every candidate spent at
#: least 59% of its traced time in the driver build on these tables; these
#: are the highest-share one of each kind of driver work: per-iteration
#: round trips, eager side jobs, streaming micro-batch orchestration.
DRIVER_HEAVY = ["q134_power_iteration", "q126_minhash_accuracy", "q165_stream_tumbling"]

WORK = os.path.abspath(".perfbench")
GEN_REPEATS = 3
#: every operation needs two samples for its fastest one to discard a slow
#: moment
MIN_PASSES = 2
#: a traced operation's layer times must sum to its wall time within this
SPLIT_TOLERANCE_S = 0.05
MB = 1 << 20


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Tracer:
    """Times the layer calls of one operation and keeps its counts. When
    tracing, each call also runs under its own Spark job group
    '<pass>|<op>|<layer>', which the event log carries on every job, stage
    and task the call starts. Setting the group is not part of the time."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.groups: set[str] = set()
        self.begin("")

    def begin(self, tag: str) -> None:
        self.tag = tag
        self.times: dict[str, float] = {}
        self.counts: Counter = Counter()

    @contextlib.contextmanager
    def span(self, layer: str):
        if self.traced:
            group = f"{self.tag}|{layer}"
            self.groups.add(group)
            self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.times[layer] = self.times.get(layer, 0.0) + time.perf_counter() - t0

    def end(self) -> None:
        if self.traced:
            self.sc.setLocalProperty(eventlog.GROUP_KEY, None)


QUIET = Tracer(None, False)


class QueryWorkload:
    """Registry queries by explicit name, on generated tables."""

    def __init__(self, queries: list[str], data_dir: str, seed: int):
        from pandaspark.queries import REGISTRY

        missing = [n for n in queries if n not in REGISTRY]
        if missing:
            raise SystemExit(f"queries missing from the registry: {missing}")
        self.registry = REGISTRY
        self.ops = list(queries)
        self.data_dir = data_dir
        self.seed = seed
        self.results: dict[str, tuple[int, str, list[str]]] = {}

    def generate(self) -> None:
        import tables

        tables.generate(self.data_dir, self.seed)

    def start(self, spark) -> None:
        self.spark = spark
        self.value_hash = _oracle_check().value_hash

    def before_pass(self) -> None:
        pass

    def run(self, name: str, tr: Tracer) -> None:
        with tr.span("queries"):
            df = self.registry[name].fn(self.spark, self.data_dir)
        # execute the plan that was timed, so exec holds no second planning
        with tr.span("plan"):
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan()
        if tr.traced:
            tr.counts.update({f"plan.{k}": v for k, v in plan_shape(plan.toString()).items()})
        with tr.span("exec"):
            qe.toRdd().count()

    def warm(self) -> list[str | None]:
        """Collect every query's rows for the oracle check, then run two
        untimed passes the way the timed ones run: after the collects alone
        the first timed pass paid about a fifth more, after one such pass
        still 8-24% more."""
        errors = []
        for name in self.ops:
            try:
                df = self.registry[name].fn(self.spark, self.data_dir)
                rows = [tuple(r) for r in df.collect()]
                self.results[name] = (len(rows), self.value_hash(df.columns, rows),
                                      sorted(df.columns))
                errors.append(None)
            except Exception as e:  # noqa: BLE001 - a failed query is a result
                traceback.print_exc()
                errors.append(f"{name}: {e}")
            release(self.spark, 0)
        warm = {"samples": [], "passes": []}
        for _ in range(2):
            run_pass(self, self.spark, QUIET, "w", warm)
        return errors

    def check(self) -> list[str | None]:
        """Compare each collected result with the query's DuckDB oracle."""
        import duckdb

        from pandaspark.queries import TABLES

        errors = []
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            for name in self.ops:
                got, oracle = self.results.get(name), self.registry[name].oracle
                if got is None or oracle is None:
                    errors.append(f"{name}: {'no result' if got is None else 'no oracle'}")
                    continue
                res = con.execute(oracle)
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                want = (len(rows), self.value_hash(cols, rows), sorted(cols))
                errors.append(None if got == want else f"{name}: spark {got} != duckdb {want}")
        finally:
            con.close()
        return errors


class ImportWorkload:
    """The CLI import flow, one operation per CSV batch, on an empty store
    at the start of every pass."""

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.seed = seed
        self.store_root = os.path.join(data_dir, "store")

    def generate(self) -> None:
        import ingfixtures

        shutil.rmtree(self.data_dir, ignore_errors=True)
        self.fx = ingfixtures.generate(self.data_dir, self.seed)
        self.ops = [f"batch_{i:02d}" for i in range(len(self.fx["batches"]))]
        self.csvs = dict(zip(self.ops, self.fx["batches"]))
        self.csv_bytes = dict(zip(self.ops, self.fx["csv_bytes"]))

    def start(self, spark) -> None:
        from pandaspark import cli

        self.spark = spark
        self.rules = cli._load_rules(self.fx["rules"])

    def before_pass(self) -> None:
        shutil.rmtree(self.store_root, ignore_errors=True)

    def run(self, batch: str, tr: Tracer) -> None:
        from pandaspark import analytics, store

        snapshot = self.import_batch(batch, tr)
        with tr.span("store.read"):
            df = analytics.with_cat(store.read_store(self.spark, self.store_root))
        with tr.span("analytics"):
            analytics.expense_overview(df, 2024).collect()
            analytics.income_overview(df, 2024).collect()
            analytics.uncategorized_expenses(df, 2024).count()
            analytics.keyword_costs(df, "miete|strom|beitrag").collect()
        if tr.traced:
            data = glob.glob(os.path.join(snapshot, "**", "*.parquet"), recursive=True)
            tr.counts.update({"store.files_written": len(data),
                              "store.bytes_written": sum(os.path.getsize(p) for p in data),
                              "csv_bytes": self.csv_bytes[batch]})

    def import_batch(self, batch: str, tr: Tracer) -> str:
        """`ing-import <the batch's CSVs>` as pandaspark.cli.cmd_ing_import
        runs it, without its closing summary counts; returns the new
        snapshot's path."""
        from pyspark.sql import DataFrame

        from pandaspark import ingest, rules, store

        spark = self.spark
        with tr.span("ingest"):
            raw = functools.reduce(DataFrame.unionByName,
                                   [ingest.read_ing_csv(spark, p) for p in self.csvs[batch]])
        with tr.span("store.merge"):
            fresh = store.merge_import(raw.limit(0), raw)  # dedup within the batch
        with tr.span("rules"):
            fresh = rules.apply_cascade(fresh, self.rules)
        with tr.span("store.next_id"):
            next_id = 1
            if store.latest_commit_path(spark, self.store_root) is not None:
                next_id = store.next_transaction_id(store.read_store(spark, self.store_root))
        with tr.span("store.prepare"):
            prepared = store.prepare_for_store(fresh, next_id=next_id)
        with tr.span("store.commit"):
            return store.upsert_to_path(spark, self.store_root, prepared)

    def stored_ids(self) -> list[int]:
        from pandaspark.store import read_store

        df = read_store(self.spark, self.store_root)
        return sorted(r[0] for r in df.select("transaction_id").collect())

    def store_errors(self, ids: list[int] | None = None) -> list[str | None]:
        """After a full pass: one row per distinct natural key, unique ids."""
        ids = self.stored_ids() if ids is None else ids
        want = self.fx["distinct_keys"]
        # ids 1..N is not checked: the upsert keeps a re-sent row's old id,
        # while prepare_for_store numbered it in the batch, so inserted
        # rows' ids skip the re-sent rows' numbers
        self.ids_contiguous = ids == list(range(1, len(ids) + 1))
        return [
            None if len(ids) == want else f"store holds {len(ids)} rows, want {want} keys",
            None if len(set(ids)) == len(ids) else "transaction_id is not unique",
        ]

    def warm(self) -> list[str | None]:
        """One untimed pass, its store checked, then the last batch imported
        again, which must add no row."""
        self.before_pass()
        for i, batch in enumerate(self.ops):
            self.run(batch, QUIET)
            release(self.spark, i)
        ids = self.stored_ids()
        errors = self.store_errors(ids)
        before = len(ids)
        self.import_batch(self.ops[-1], QUIET)
        after = len(self.stored_ids())
        errors.append(None if after == before else f"re-import changed rows {before} -> {after}")
        return errors

    def check(self) -> list[str | None]:
        return self.store_errors()


WORKLOADS = {
    "driver_heavy": functools.partial(QueryWorkload, DRIVER_HEAVY),
    "import_upsert": ImportWorkload,
}


def _oracle_check():
    """scripts/oracle_check.py as a module, for its value_hash."""
    path = os.path.join("scripts", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, [path]  # it reads its argv at import time
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


def start_session(aqe: bool, trace: bool, event_dir: str, tmp_dir: str):
    """The bench.py session: get_spark (local[$SPARK_GRAFT_CPUS], codegen
    cache 5000) with AQE as bench.py picks it from the input size."""
    args = [f"--driver-java-options=-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_dir}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 # keep every job and stage for tracker_counts
                 "--conf", "spark.ui.retainedJobs=1000000",
                 "--conf", "spark.ui.retainedStages=1000000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    from pandaspark.session import get_spark

    spark = get_spark("pandaspark-perfbench", aqe=aqe)
    spark.sparkContext.setLogLevel("OFF")
    return spark


def session_confs(spark) -> dict:
    conf = spark.sparkContext.getConf()
    keys = ["spark.master", "spark.sql.adaptive.enabled", "spark.sql.codegen.cache.maxEntries",
            "spark.driver.memory", "spark.eventLog.enabled"]
    out = {k: conf.get(k, None) for k in keys}
    out["spark.sql.adaptive.enabled"] = spark.conf.get("spark.sql.adaptive.enabled")
    out["PANDASPARK_SHUFFLE_PARTITIONS"] = os.environ.get("PANDASPARK_SHUFFLE_PARTITIONS")
    return out


def release(spark, i: int) -> None:
    """bench.py's hygiene between operations: unpersist every persistent RDD
    (blocking), and every 15 operations collect garbage on both sides."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    if i % 15 == 14:
        gc.collect()
        spark._jvm.System.gc()


def run_pass(wl, spark, tr: Tracer, prefix: str, out: dict) -> None:
    """One pass over wl.ops, appending per-operation samples to out.
    Hygiene and store resets are untimed."""
    p = len(out["passes"])
    wl.before_pass()
    pass_s = 0.0
    for op in wl.ops:
        tr.begin(f"{prefix}{p}|{os.path.basename(op)}")
        t0 = time.perf_counter()
        ok = True
        try:
            wl.run(op, tr)
        except Exception:  # noqa: BLE001 - an operation failure is a result
            traceback.print_exc()
            ok = False
        tr.end()
        dt = time.perf_counter() - t0
        pass_s += dt
        out["samples"].append({"pass": p, "op": os.path.basename(op), "s": dt, "ok": ok,
                               "layers": tr.times, "counts": tr.counts})
        release(spark, len(out["samples"]))
    out["passes"].append(pass_s)


def measure(wl, spark, seconds: float, trace: bool) -> tuple[dict, dict | None, set[str]]:
    """Whole passes until `seconds` have elapsed, at least MIN_PASSES. With trace,
    traced and untraced passes alternate for twice as long, so both see the
    same JIT warmth and their difference is the tracing overhead. Returns
    the untraced and traced runs and the job groups the traced one used."""
    modes = {"u": False, "t": True} if trace else {"u": False}
    runs = {m: {"samples": [], "passes": []} for m in modes}
    tracers = {m: Tracer(spark.sparkContext, traced) for m, traced in modes.items()}
    t_end = time.perf_counter() + seconds * len(modes)
    while True:
        for m in modes:
            run_pass(wl, spark, tracers[m], m, runs[m])
        if time.perf_counter() >= t_end and len(runs["u"]["passes"]) >= MIN_PASSES:
            return runs["u"], runs.get("t"), tracers["t"].groups if trace else set()


def tracker_counts(sc, groups: set[str]) -> dict[str, tuple[int, int]]:
    """(jobs, stages run) per job group, from the status tracker. A stage
    that a job lists but skips, because its shuffle output already exists,
    completes no task and is not counted."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    out = {}
    for g in groups:
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(g)]
        stages = {s for j in jobs if j for s in j.stageIds}
        infos = [st.getStageInfo(s) for s in stages]
        out[g] = (len(jobs), sum(1 for i in infos if i and i.numCompletedTasks > 0))
    return out


def op_medians(samples: list[dict]) -> dict[str, float]:
    """Each operation's median latency, in list order."""
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["s"])
    return {op: statistics.median(v) for op, v in by_op.items()}


def fastest(samples: list[dict]) -> dict[str, float]:
    """Each operation's latency, in list order, as the sum of its steps'
    fastest times over the passes. A step is one layer call, or the rest of
    the operation outside them. Time that other guests take from the host
    only ever adds to a step, and a burst of it seldom hits the same step
    in every pass. Failed operations are left out."""
    steps: dict[str, dict[str, list[float]]] = {}
    for s in samples:
        if s["ok"]:
            times = dict(s["layers"], _rest=s["s"] - sum(s["layers"].values()))
            for step, t in times.items():
                steps.setdefault(s["op"], {}).setdefault(step, []).append(t)
    return {op: sum(min(v) for v in st.values()) for op, st in steps.items()}


def end_to_end(run: dict, setup_s: float) -> dict:
    """wall_s is one pass over the list, as the sum of each operation's
    fastest() latency."""
    return {
        "wall_s": (sum(fastest(run["samples"]).values()), "s"),
        "setup_s": (setup_s, "s"),
    }


def per_layer(traced: dict, untraced: dict, groups: dict, tracker: dict, session: dict) -> dict:
    """Every layer's total per traced pass, as the median over those passes.
    Job and stage counts come from the status tracker, the executors' work
    from the event log."""
    per_pass = [Counter() for _ in traced["passes"]]
    for s in traced["samples"]:
        acc = per_pass[s["pass"]]
        acc.update({f"{layer}_s": t for layer, t in s["layers"].items()})
        acc.update(s["counts"])
    for group, st in groups.items():
        parts = group.split("|")  # traced groups are t<pass>|<op>|<layer>
        if len(parts) == 3 and parts[0].startswith("t"):
            per_pass[int(parts[0][1:])].update(
                {f"{parts[2]}:{f.name}": getattr(st, f.name) for f in fields(st)
                 if f.name not in ("jobs", "stages")})
    for group, (jobs, stages) in tracker.items():
        p, _, layer = group.split("|")
        per_pass[int(p[1:])].update({f"{layer}:jobs": jobs, f"{layer}:stages": stages})

    def med(key: str) -> float:
        return statistics.median(p[key] for p in per_pass)

    exec_s, task_s, csv = med("exec_s"), med("exec:task_s"), med("csv_bytes")
    traced_wall = sum(fastest(traced["samples"]).values())
    gaps = [abs(s["s"] - sum(s["layers"].values())) for s in traced["samples"]]
    return {
        "session.start_s": (session["start_s"], "s"),
        "session.jvm_peak_rss_mb": (session["peak_rss_mb"], "MB"),
        "queries.build_s": (med("queries_s"), "s"),
        "queries.build_jobs": (med("queries:jobs"), "count"),
        "queries.build_stages": (med("queries:stages"), "count"),
        "queries.build_task_s": (med("queries:task_s"), "s"),
        "plan.plan_s": (med("plan_s"), "s"),
        **{f"plan.{k}": (med(f"plan.{k}"), "count") for k in PLAN_COUNTS},
        "exec.exec_s": (exec_s, "s"),
        "exec.jobs": (med("exec:jobs"), "count"),
        "exec.stages": (med("exec:stages"), "count"),
        "exec.tasks": (med("exec:tasks"), "count"),
        "exec.task_s": (task_s, "s"),
        "exec.core_use": (task_s / (exec_s * nproc()) if exec_s else 0.0, "ratio"),
        "exec.sched_wait_s": (med("exec:sched_wait_s"), "s"),
        "exec.gc_s": (med("exec:gc_s"), "s"),
        "exec.input_mb": (med("exec:input_bytes") / MB, "MB"),
        "exec.shuffle_read_mb": (med("exec:shuffle_read_bytes") / MB, "MB"),
        "exec.shuffle_write_mb": (med("exec:shuffle_write_bytes") / MB, "MB"),
        "exec.spill_mb": (med("exec:spill_bytes") / MB, "MB"),
        "ingest.read_s": (med("ingest_s"), "s"),
        "rules.cascade_s": (med("rules_s"), "s"),
        "store.merge_s": (med("store.merge_s"), "s"),
        "store.next_id_s": (med("store.next_id_s"), "s"),
        "store.prepare_s": (med("store.prepare_s"), "s"),
        "store.commit_s": (med("store.commit_s"), "s"),
        "store.commit_jobs": (med("store.commit:jobs"), "count"),
        "store.files_written": (med("store.files_written"), "count"),
        "store.bytes_written_mb": (med("store.bytes_written") / MB, "MB"),
        "store.write_amp": (med("store.bytes_written") / csv if csv else 0.0, "ratio"),
        "store.read_s": (med("store.read_s"), "s"),
        "analytics.report_s": (med("analytics_s"), "s"),
        # wall_s as end_to_end takes it, traced and untraced
        "trace.wall_s": (traced_wall, "s"),
        "trace.overhead_s": (traced_wall - sum(fastest(untraced["samples"]).values()), "s"),
        "trace.split_gap_s": (max(gaps), "s"),
        "trace.op_samples": (len(traced["samples"]), "count"),
    }


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - still must not leave it running
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    if not os.path.isfile(os.path.join("pandaspark", "queries", "__init__.py")):
        log("run from the repository root: pandaspark/ is not here")
        return 2
    sys.path.insert(0, os.getcwd())

    # every file this run writes lives under WORK
    shutil.rmtree(WORK, ignore_errors=True)
    local, tmp, events = (os.path.join(WORK, d) for d in ("local", "tmp", "events"))
    for d in (local, tmp, events):
        os.makedirs(d)
    os.environ.update({
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEM": "4g",
    })

    wl = WORKLOADS[args.workload](os.path.join(local, "data"), args.seed)
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t0)
    # bench.py's scale rule: below 1 GiB of input, AQE off and shuffle width 8
    small = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(wl.data_dir)
                for f in fs) < 1 << 30
    if small:
        os.environ["PANDASPARK_SHUFFLE_PARTITIONS"] = "8"
    t0 = time.perf_counter()
    spark = start_session(not small, bool(args.trace), events, tmp)
    start_s = time.perf_counter() - t0
    wl.start(spark)

    t0 = time.perf_counter()
    try:
        checks = wl.warm()
    except Exception as e:  # noqa: BLE001 - reported as a failed check
        traceback.print_exc()
        checks = [f"warm-up: {e}"]
    warm_s = time.perf_counter() - t0
    setup_s = start_s + statistics.median(gen_s) + warm_s
    log(f"setup {setup_s:.2f}s (session {start_s:.2f}, gen {statistics.median(gen_s):.2f}, "
        f"warm-up {warm_s:.2f})")

    ticks = cpu_ticks()
    untraced, traced, groups = measure(wl, spark, args.seconds, bool(args.trace))
    ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
    tracker = tracker_counts(spark.sparkContext, groups) if traced else {}
    checks += wl.check()
    samples = untraced["samples"] + (traced["samples"] if traced else [])
    # a traced operation's layer times must add up to its wall time
    split_bad = [s for s in (traced["samples"] if traced else [])
                 if abs(s["s"] - sum(s["layers"].values())) > SPLIT_TOLERANCE_S]
    errors = [c for c in checks if c] + [f"split gap {s['op']}" for s in split_bad]
    confs = session_confs(spark)
    session = {"start_s": start_s, "peak_rss_mb": jvm_peak_rss_mb()}
    stop_session(spark)  # flushes the event log

    if traced:
        logs = glob.glob(os.path.join(events, "*"))
        logged = eventlog.parse_file(logs[0]) if len(logs) == 1 else {}
        metrics = per_layer(traced, untraced, logged, tracker, session)
        # the status tracker and the event log must agree on how many jobs
        # each traced layer call ran
        errors += [f"job count of {g}: tracker {jobs}, event log "
                   f"{logged[g].jobs if g in logged else 0}"
                   for g, (jobs, _) in sorted(tracker.items())
                   if jobs != (logged[g].jobs if g in logged else 0)]
        checks += [None] * len(tracker)
    else:
        metrics = end_to_end(untraced, setup_s)
    for e in errors:
        log(f"check failed: {e}")
    attempted = len(checks) + len(samples)
    failed = len(errors) + sum(not s["ok"] for s in samples)
    lat = [s["s"] for s in untraced["samples"]]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "pass_s": untraced["passes"], "op_samples": len(lat),
        "op_p50_s": {"value": percentile(lat, 50), "unit": "s"},
        "op_p90_s": {"value": percentile(lat, 90), "unit": "s"},
        "fail_frac": {"value": failed / attempted, "unit": "ratio"},
        "errors": errors,
        "setup": {"session_s": start_s, "gen_s": gen_s, "warmup_s": warm_s},
        # CPU time the hypervisor gave to other guests while measuring; a
        # few percent of it already slows the driver-bound workloads a lot
        "host_steal_frac": ticks[7] / max(1, sum(ticks)),
        "session_confs": confs,
        "op_median_s": op_medians(untraced["samples"]),
        "op_fastest_s": fastest(untraced["samples"]),
        "ids_contiguous": getattr(wl, "ids_contiguous", None),
    }
    if traced:
        detail["traced_pass_s"] = traced["passes"]
        detail["traced_ops"] = [{k: s[k] for k in ("pass", "op", "s", "layers")}
                                for s in traced["samples"]]
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
