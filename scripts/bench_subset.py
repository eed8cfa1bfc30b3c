"""Bench-matched per-query timing for a subset: bench.py's session
(session.bench_session), noop sink, min-of-N and untimed hygiene between
runs (session.release), AND times the DuckDB
oracle alongside, printing the ratio the judge computes
((spark - floor) / duck).

Usage: python scripts/bench_subset.py [sf_dir] q112 q138 ...
Env: BS_RUNS (default 3), BS_FLOOR (default 0.21)
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_args = sys.argv[1:]
if _args and os.path.isdir(_args[0]):
    SF_DIR, NAMES = _args[0], _args[1:]
else:
    SF_DIR, NAMES = "/root/testdata/sf0.1", _args
RUNS = int(os.environ.get("BS_RUNS", "3"))
FLOOR = float(os.environ.get("BS_FLOOR", "0.21"))


def main() -> None:
    from pandaspark.queries import REGISTRY, oracle_views
    from pandaspark.session import bench_session, release

    spark = bench_session(SF_DIR, "bench-subset")
    spark.sparkContext.setLogLevel("OFF")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    picks = [n for n in sorted(REGISTRY) if any(n.startswith(p) for p in NAMES)]
    if not picks:
        sys.exit(f"no registry query matches prefixes {NAMES}")

    import duckdb

    con = duckdb.connect()
    oracle_views(con, SF_DIR)

    n_runs = 0
    for name in picks:
        spec = REGISTRY[name]
        best = float("inf")
        for _ in range(RUNS + 1):  # first pass is warm-up, like bench's pass structure
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            release(spark, n_runs)
            n_runs += 1
        dbest = float("inf")
        if spec.oracle is not None:
            for _ in range(RUNS):
                t0 = time.perf_counter()
                con.execute(spec.oracle).fetchall()
                dbest = min(dbest, time.perf_counter() - t0)
        # clamp at zero: a sub-floor timing would print a negative ratio,
        # which misreads as better-than-free in A/B comparisons
        ratio = max(0.0, best - FLOOR) / dbest if spec.oracle else float("nan")
        flag = "  (sub-floor)" if spec.oracle and best < FLOOR else ""
        print(
            f"{name:32s} spark {best:6.3f}s  duck {dbest:6.3f}s  "
            f"judge-ratio {ratio:5.2f}{flag}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
