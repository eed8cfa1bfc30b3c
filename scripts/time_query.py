"""Min-of-N wall timing for individual registry queries at a given SF, on
bench.py's session (session.bench_session).

Usage: python scripts/time_query.py [sf_dir] q55 q82 ...   (N via TQ_RUNS)
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_args = sys.argv[1:]
if _args and os.path.isdir(_args[0]):
    SF_DIR, NAMES = _args[0], _args[1:]
else:
    SF_DIR, NAMES = "/root/testdata/sf0.1", _args
RUNS = int(os.environ.get("TQ_RUNS", "3"))

import __spark_entry__ as entry
from pandaspark.session import bench_session


def main():
    spark = bench_session(SF_DIR, "time-query")
    qs = entry.queries()
    picks = [n for n in qs if any(n.startswith(p) for p in NAMES)] if NAMES else list(qs)
    if NAMES and not picks:
        sys.exit(f"no registry query matches prefixes {NAMES}")
    def run_once(name: str) -> None:
        # noop sink, same as bench.py: count() would let Catalyst prune
        # projection-final compute (confirmed: q68's quantization vanishes
        # from the count plan), under-measuring exactly the map-heavy
        # queries this timer exists to profile
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    for name in picks:
        run_once(name)  # warm-up: plan compile, codegen, scan caching
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.time()
            run_once(name)
            best = min(best, time.time() - t0)
        print(f"{name}  {best:.3f}s")


if __name__ == "__main__":
    main()
