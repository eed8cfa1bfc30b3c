"""Reduce a Spark event log to per-job-group totals.

Spark writes one JSON event per line when `spark.eventLog.enabled` is set.
The benchmark tags every layer call with a job group; this module maps each
task and stage back to the group of the job that ran it and sums what the
executors did there. Only the standard library is used.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Iterable

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    sched_wait_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _sched_wait_ms(info: dict, m: dict) -> float:
    """Scheduler delay as Spark's UI defines it: task duration not spent
    deserializing, running, serializing or fetching the result."""
    got = info.get("Getting Result Time", 0) or 0
    fetch = info["Finish Time"] - got if got > 0 else 0
    busy = (m.get("Executor Deserialize Time", 0) + m.get("Executor Run Time", 0)
            + m.get("Result Serialization Time", 0) + fetch)
    return max(0.0, info["Finish Time"] - info["Launch Time"] - busy)


def parse(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Event-log lines -> {job group: totals}. Work outside any job group is
    keyed under ''."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}

    def group(stage: int) -> GroupStats:
        return out.setdefault(stage_group.get(stage, ""), GroupStats())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            out.setdefault(g, GroupStats()).jobs += 1
            for s in ev.get("Stage IDs", []):
                stage_group.setdefault(s, g)
        elif kind == "SparkListenerStageSubmitted":
            # the submitting job's group wins over an earlier job that only
            # listed the stage and then skipped it
            g = (ev.get("Properties") or {}).get(GROUP_KEY)
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            group(ev["Stage Info"]["Stage ID"]).stages += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = group(ev["Stage ID"])
            st.tasks += 1
            st.task_s += m.get("Executor Run Time", 0) / 1000.0
            st.sched_wait_s += _sched_wait_ms(ev["Task Info"], m) / 1000.0
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return out


def parse_file(path: str) -> dict[str, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return parse(f)
