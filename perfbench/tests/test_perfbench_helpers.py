"""Unit tests for the benchmark's event-log parser, percentile helper and
plan-shape counter. Run with: python -m pytest perfbench/tests -q"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from metrics import percentile, plan_shape  # noqa: E402

MINI_LOG = os.path.join(HERE, "data", "eventlog_mini.jsonl")


def test_eventlog_groups_jobs_stages_and_tasks():
    groups = eventlog.parse_file(MINI_LOG)
    assert set(groups) == {"", "t0|q133_greedy_coverage|exec", "t0|q134_power_iteration|queries"}

    build = groups["t0|q134_power_iteration|queries"]
    # two jobs; the second lists stage 306 again but skips it, so only the
    # four stages that ran count
    assert (build.jobs, build.stages, build.tasks) == (2, 4, 18)
    assert build.task_s == pytest.approx(0.184)
    assert build.shuffle_write_bytes == 2 * 1658
    assert build.shuffle_read_bytes == 8526
    assert build.input_bytes == 5512

    ex = groups["t0|q133_greedy_coverage|exec"]
    assert (ex.jobs, ex.stages, ex.tasks) == (1, 2, 9)
    assert ex.task_s == pytest.approx(0.047)
    assert ex.shuffle_write_bytes == ex.shuffle_read_bytes == 472

    untagged = groups[""]
    assert (untagged.jobs, untagged.stages, untagged.tasks) == (1, 1, 1)
    assert untagged.gc_s == pytest.approx(0.018)


def test_eventlog_scheduler_delay_is_time_not_spent_working():
    # 100 ms task: 10 deserialize + 60 run + 5 serialize -> 25 ms waiting
    line = (
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 1, '
        '"Task Info": {"Launch Time": 1000, "Getting Result Time": 0, "Finish Time": 1100}, '
        '"Task Metrics": {"Executor Deserialize Time": 10, "Executor Run Time": 60, '
        '"Result Serialization Time": 5}}'
    )
    st = eventlog.parse([line])[""]
    assert st.sched_wait_s == pytest.approx(0.025)
    assert st.task_s == pytest.approx(0.060)


def test_percentile_matches_linear_interpolation():
    xs = [float(i) for i in range(1, 11)]  # 1..10
    assert percentile(xs, 50) == pytest.approx(5.5)
    assert percentile(xs, 90) == pytest.approx(9.1)
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 10.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0  # order-independent
    assert percentile([7.0], 90) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


PLAN = """\
*(5) Project [a#1, b#2]
+- *(5) BroadcastHashJoin [k#3], [k#4], Inner, BuildRight, false
   :- *(5) HashAggregate(keys=[k#3], functions=[sum(v#5)])
   :  +- Exchange hashpartitioning(k#3, 8), ENSURE_REQUIREMENTS, [plan_id=10]
   :     +- *(1) Filter isnotnull(k#3)
   :        +- *(1) ColumnarToRow
   :           +- FileScan parquet [k#3,v#5] Batched: true, Format: Parquet
   :- ArrowEvalPython [f(v#5)#9], [pythonUDF0#10], 200
   :  +- Scan ExistingRDD[k#6,v#7]
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, true]),false)
      +- ReusedExchange [k#4], Exchange hashpartitioning(k#3, 8)
"""


def test_plan_shape_counts_operators():
    assert plan_shape(PLAN) == {
        "scans": 1,
        "exchanges": 1,
        "reused_exchanges": 1,
        "broadcasts": 1,
        "python_execs": 1,
        "checkpoint_scans": 1,
    }


def _sample(p, op, s, layers, counts=None):
    return {"pass": p, "op": op, "s": s, "ok": True, "layers": layers, "counts": counts or {}}


def test_op_medians_keep_list_order():
    import run

    samples = [_sample(0, "b", 3.0, {}), _sample(0, "a", 1.0, {}),
               _sample(1, "b", 5.0, {}), _sample(1, "a", 2.0, {}), _sample(2, "b", 4.0, {})]
    assert run.op_medians(samples) == {"b": 4.0, "a": 1.5}


def test_fastest_sums_each_steps_fastest_pass():
    import run

    slow = dict(_sample(2, "a", 0.5, {"x": 0.5}), ok=False)  # failed: left out
    samples = [_sample(0, "a", 4.1, {"x": 1.0, "y": 3.0}),
               _sample(1, "a", 3.2, {"x": 2.0, "y": 1.0}),
               slow, _sample(0, "b", 2.0, {})]
    got = run.fastest(samples)
    assert list(got) == ["a", "b"]
    assert got["a"] == pytest.approx(1.0 + 1.0 + 0.1)  # x, y and the rest outside them
    assert got["b"] == pytest.approx(2.0)


def test_end_to_end_uses_each_operations_fastest_sample():
    import run

    samples = [_sample(0, "a", 1.0, {}), _sample(0, "b", 3.0, {}), _sample(0, "c", 9.0, {}),
               _sample(1, "a", 1.5, {}), _sample(1, "b", 2.0, {}), _sample(1, "c", 8.0, {})]
    m = run.end_to_end({"samples": samples, "passes": [13.0, 11.5]}, 30.0)
    assert m == {"wall_s": (11.0, "s"), "setup_s": (30.0, "s")}


def test_per_layer_takes_counts_from_tracker_and_work_from_event_log():
    import run

    traced = {"passes": [2.0, 3.0], "samples": [
        _sample(0, "q1", 2.0, {"queries": 1.0, "plan": 0.2, "exec": 0.8}, {"plan.scans": 2}),
        _sample(1, "q1", 3.0, {"queries": 1.5, "plan": 0.2, "exec": 1.3}, {"plan.scans": 2}),
    ]}
    untraced = {"passes": [1.9, 2.1],
                "samples": [_sample(0, "q1", 1.9, {}), _sample(1, "q1", 1.5, {})]}
    logged = {
        "t0|q1|exec": eventlog.GroupStats(jobs=9, stages=9, tasks=4, task_s=1.6),
        "t1|q1|exec": eventlog.GroupStats(jobs=9, stages=9, tasks=4, task_s=2.4),
        "u0|q1|exec": eventlog.GroupStats(tasks=100),  # untraced: ignored
    }
    tracker = {"t0|q1|exec": (1, 2), "t1|q1|exec": (1, 2), "t0|q1|queries": (3, 4),
               "t1|q1|queries": (3, 4)}
    m = run.per_layer(traced, untraced, logged, tracker, {"start_s": 5.0, "peak_rss_mb": 900.0})
    assert m["exec.jobs"] == (1, "count")
    assert m["exec.stages"] == (2, "count")
    assert m["queries.build_jobs"] == (3, "count")
    assert m["exec.tasks"] == (4, "count")
    assert m["exec.task_s"][0] == pytest.approx(2.0)
    assert m["exec.exec_s"][0] == pytest.approx(1.05)
    assert m["plan.scans"] == (2, "count")
    assert m["trace.overhead_s"][0] == pytest.approx(0.5)
    assert m["trace.split_gap_s"][0] == pytest.approx(0.0)
    assert m["store.commit_s"] == (0, "s")
