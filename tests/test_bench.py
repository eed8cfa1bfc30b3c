"""bench.py's one-line JSON artifact: the grading driver captures only a
bounded tail of merged output, so the line must stay short, parse on its
own, and degrade (never crash) if the registry outgrows the window."""

from __future__ import annotations

import json
import os

from bench import build_line

_SUMMARY = {
    "metric": "total_query_wall_seconds",
    "value": 1.0,
    "unit": "sec",
    "n_queries": 166,
    "sf": 0.1,
}


def test_line_is_compact_and_parseable_at_registry_size():
    # real registry key widths: q01..q99, then q100..q166
    timings = {
        f"q{i:02d}_some_operator_name": 0.1 * (i % 40) for i in range(1, 167)
    }
    line = build_line(_SUMMARY, timings)
    assert len(line) < 1900
    d = json.loads(line)
    assert d["n_queries"] == 166
    # short keys, 1dp values
    assert d["queries"]["q01"] == 0.1
    assert len(d["queries"]) == 166


def test_line_degrades_to_slowest_queries_when_over_window():
    # a hypothetical 400-query registry cannot fit; the line must still
    # parse, keep the slowest entries, and report the dropped count
    timings = {f"q{i:03d}_op": float(i % 97) + 0.1 for i in range(1, 401)}
    line = build_line(_SUMMARY, timings)
    assert len(line) < 1900
    d = json.loads(line)
    assert d["queries_truncated"] == 400 - len(d["queries"])
    kept = set(d["queries"])
    dropped_max = max(
        round(v, 1) for n, v in timings.items() if n.split("_", 1)[0] not in kept
    )
    kept_min = min(d["queries"].values())
    assert kept_min >= dropped_max  # slowest-first retention


def test_line_shrinks_below_window_even_with_extra_summary_keys():
    # r11: the printed line carries spark_passes/duckdb_passes; the
    # truncation loop must keep shrinking until the line fits rather than
    # assuming 120 entries always fit
    summary = {**_SUMMARY, "spark_passes": 3, "duckdb_passes": 3}
    timings = {f"q{i:03d}_{'x' * 30}": float(i % 97) + 0.1 for i in range(1, 401)}
    line = build_line(summary, timings)
    assert len(line) < 1900
    d = json.loads(line)
    assert d["spark_passes"] == 3 and d["duckdb_passes"] == 3
    assert d["queries_truncated"] == 400 - len(d["queries"])


def test_line_falls_back_to_summary_only_when_ten_entries_overflow():
    # keys long enough that even the 10 slowest entries exceed the window:
    # truncation must go on to a summary-only line instead of failing the
    # length assertion in main()
    timings = {f"q{i:03d}{'x' * 200}_op": float(i) for i in range(1, 21)}
    assert len(json.dumps({k.split("_", 1)[0]: v for k, v in list(timings.items())[:10]})) >= 1900
    line = build_line(_SUMMARY, timings)
    assert len(line) < 1900
    d = json.loads(line)
    assert d["queries"] == {} and d["queries_truncated"] == 20
    assert d["metric"] == _SUMMARY["metric"]


def test_bench_session_applies_the_scale_rule(tmp_path, monkeypatch):
    """bench.py and the timing scripts share one session rule: below 1 GiB
    of parquet input, AQE off and shuffle width 8; from 1 GiB, AQE on.
    No JVM: get_spark is stubbed."""
    from pandaspark import session

    small, large = tmp_path / "small", tmp_path / "large"
    small.mkdir()
    large.mkdir()
    (small / "t.parquet").write_bytes(b"x" * 1024)
    with open(large / "t.parquet", "wb") as f:
        f.truncate(1 << 30)  # sparse: sized, not written
    calls = []
    monkeypatch.setattr(session, "get_spark", lambda app, aqe: calls.append((app, aqe)))
    before = os.environ.get("PANDASPARK_SHUFFLE_PARTITIONS")
    # delenv records nothing for an unset variable, so bench_session's
    # setdefault would outlive the test; setenv first records the state
    # that undo restores
    monkeypatch.setenv("PANDASPARK_SHUFFLE_PARTITIONS", "x")
    monkeypatch.delenv("PANDASPARK_SHUFFLE_PARTITIONS")

    session.bench_session(str(small), "b")
    assert os.environ["PANDASPARK_SHUFFLE_PARTITIONS"] == "8"
    session.bench_session(str(large), "b")
    assert calls == [("b", False), ("b", True)]
    monkeypatch.undo()
    assert os.environ.get("PANDASPARK_SHUFFLE_PARTITIONS") == before


def test_release_unpersists_blocking_and_collects_every_15th_call(monkeypatch):
    """The hygiene bench.py and scripts/bench_subset.py run between timed
    runs: every persistent RDD is unpersisted blocking on every call, and
    both GCs run on every 15th call. No JVM: the session is a stub."""
    from types import SimpleNamespace

    from pandaspark import session

    unpersisted, gcs = [], []

    class _Rdd:
        def unpersist(self, blocking):
            unpersisted.append(blocking)

    rdds = {1: _Rdd(), 2: _Rdd()}
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=SimpleNamespace(getPersistentRDDs=lambda: rdds)),
        _jvm=SimpleNamespace(System=SimpleNamespace(gc=lambda: gcs.append("jvm"))),
    )
    monkeypatch.setattr(session.gc, "collect", lambda: gcs.append("py"))

    for i in range(30):
        session.release(spark, i)
        assert unpersisted == [True] * 2 * (i + 1)
        assert len(gcs) == 2 * ((i + 1) // 15)
    # the Python GC drops the py4j handles before the JVM GC runs
    assert gcs == ["py", "jvm"] * 2
