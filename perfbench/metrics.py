"""Pure helpers for the benchmark: percentiles and plan-shape counts."""

from __future__ import annotations

import math
import re
from collections import Counter

#: Physical operators that cross the JVM/Python boundary.
PYTHON_EXECS = frozenset({
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow", "PythonMapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
})

PLAN_COUNTS = ("scans", "exchanges", "reused_exchanges", "broadcasts", "python_execs",
               "checkpoint_scans")

# a tree line: indentation and ':- ' / '+- ' connectors, an optional
# whole-stage-codegen marker '*(3) ', then the operator name
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z][A-Za-z0-9]*)(?:\s+(\w+))?")


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0 <= q <= 100) by linear interpolation between
    closest ranks, the same definition as numpy's default."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def plan_shape(plan: str) -> dict[str, int]:
    """Operator counts from a physical plan's tree string
    (`queryExecution().executedPlan().toString()`)."""
    nodes: Counter[str] = Counter()
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name, arg = m.groups()
        nodes["Scan " + (arg or "") if name == "Scan" else name] += 1
    return {
        "scans": nodes["FileScan"] + nodes["BatchScan"],
        "exchanges": nodes["Exchange"],
        "reused_exchanges": nodes["ReusedExchange"],
        "broadcasts": nodes["BroadcastExchange"],
        "python_execs": sum(n for k, n in nodes.items() if k in PYTHON_EXECS),
        "checkpoint_scans": nodes["Scan ExistingRDD"],
    }
