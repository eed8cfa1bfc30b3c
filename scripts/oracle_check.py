"""Driver-style full-registry oracle sweep.

Mimics the per-round driver check: fresh SparkSession, run every
queries() entry at a given sf dir, run the matching oracle_sql() in
DuckDB over parquet views, compare row count, sorted-column schema,
and a value hash of the sorted rows. Prints one line per query and a
summary; exit 1 on any mismatch. Each `ok` line carries the value hash,
so two sweeps can be diffed once the timings are cut off.

Usage: python scripts/oracle_check.py [sf_dir] [query_prefix ...]
"""
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:]

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entry
from pandaspark.queries import oracle_views


def norm(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr = shortest round-trip (exact): the driver compares exactly,
        # so this sweep must too — .9g would hide >9-sig-digit divergence
        return repr(v)
    if isinstance(v, bool):
        # tag booleans so a BOOLEAN column can't hash-match an INT 0/1
        # column (the driver's schema check distinguishes the types)
        return f"b{int(v)}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    # defaults fit the driver's sf0.01 scale; the 100× sweeps need more
    # (OC_CPUS=32 OC_DRIVER_MEM=48g — a 16g heap OOMs on 60M-row
    # intermediates and every later check then fails on the dead JVM)
    cpus = os.environ.get("OC_CPUS", "8")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("OC_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # stage progress bars would interleave with the per-query lines
        .config("spark.ui.showConsoleProgress", "false")
        .appName("oracle-check")
    )
    if os.environ.get("OC_TZ"):
        # hostile-session-timezone probe: queries must pin UTC themselves
        builder = builder.config("spark.sql.session.timeZone", os.environ["OC_TZ"])
    spark = builder.getOrCreate()
    con = duckdb.connect()
    oracle_views(con, SF_DIR)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    skip = [p for p in os.environ.get("OC_SKIP", "").split(",") if p]
    names = [n for n in qs if not ONLY or any(n.startswith(p) for p in ONLY)]
    names = [n for n in names if not any(n.startswith(p) for p in skip)]
    bad = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            cols = sdf.columns
            rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            bad.append(name)
            continue
        if name not in oracles:
            print(f"skip  {name}: no oracle ({len(rows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {exc}")
            bad.append(name)
            continue
        dt = time.time() - t0
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rows {len(rows)}!={len(orows)}")
        h = value_hash(cols, rows)
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema {sorted(cols)}!={sorted(ocols)}")
        elif h != value_hash(ocols, orows):
            problems.append("hash mismatch")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            bad.append(name)
        else:
            print(f"ok    {name}  ({len(rows)} rows, {h}, {dt:.1f}s)")
    print(f"\n{len(names) - len(bad)}/{len(names)} green")
    if bad:
        print("failing:", ", ".join(bad))
        sys.exit(1)


if __name__ == "__main__":
    main()
