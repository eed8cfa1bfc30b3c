"""Dump .explain('formatted') for registry queries to plans/<tag>/<prefix>_<suffix>.txt.

Usage: python scripts/dump_plans.py <tag> <suffix> [sf_dir] q55 q126 ...
Writes plans/<tag>/q55_<suffix>.txt etc. Uses bench.py's session
(session.bench_session) so the captured plan is the plan the bench runs.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1]
SUFFIX = sys.argv[2]
rest = sys.argv[3:]
if rest and os.path.isdir(rest[0]):
    SF_DIR, NAMES = rest[0], rest[1:]
else:
    SF_DIR, NAMES = "/root/testdata/sf0.1", rest


def main() -> None:
    from pandaspark.queries import REGISTRY
    from pandaspark.session import bench_session

    spark = bench_session(SF_DIR, "dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", TAG)
    os.makedirs(out_dir, exist_ok=True)
    picks = [n for n in REGISTRY if any(n.split("_")[0] == p for p in NAMES)] if NAMES else list(REGISTRY)
    for name in sorted(picks):
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        short = name.split("_")[0]
        path = os.path.join(out_dir, f"{short}_{SUFFIX}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {SF_DIR}\n")
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
