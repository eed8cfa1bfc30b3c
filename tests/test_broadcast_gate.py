"""Data-dependent broadcast gate for the LSH verify family (q55/q126/q175).

The exact-verify joins broadcast the candidate-bounded shingle frame, but
candidate volume is corpus-dependent: a boilerplate-heavy corpus could push
it past Spark's broadcast hard limit and fail the job. operators.
gated_broadcast measures the candidate-doc count and falls back to a
shuffle-hash hint above the gate. These tests run the queries on a
pathological near-duplicate-heavy fixture and assert:

  - the default (broadcast) path fires and actually produces dense pairs;
  - with the gate forced to 0, the plan switches to ShuffledHashJoin with
    no cartesian/nested-loop blowup — the join stays candidate-bounded;
  - both paths return identical rows (the gate is a physical-strategy
    decision only, never a semantic one).
"""

from __future__ import annotations

import pytest

from pandaspark import operators
from pandaspark.queries import REGISTRY


@pytest.fixture(scope="module")
def neardup_dir(spark, tmp_path_factory):
    """A documents table where most docs are near-duplicates of each other,
    so the LSH candidate set is dense (every boilerplate doc pairs with
    every other — the candidate-volume regime the gate exists for)."""
    d = tmp_path_factory.mktemp("neardup")
    boiler = (
        "subscribe to our newsletter for the latest updates and offers "
        "all rights reserved terms of service privacy policy contact us "
    ) * 4
    rows = []
    for i in range(40):
        if i < 30:
            # 30 boilerplate docs differing only in a tiny tail: high
            # Jaccard, shared LSH buckets, dense candidate pairs
            rows.append((i, boiler + f"tail {i % 3}"))
        else:
            rows.append((i, f"a genuinely distinct document number {i} " + "z" * (20 + i)))
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    sdf.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "qname",
    ["q55_dedup_pipeline", "q126_minhash_accuracy", "q175_shingle_containment"],
)
def test_gate_fallback_matches_broadcast_path(spark, neardup_dir, qname, monkeypatch):
    fn = REGISTRY[qname].fn

    # default gate: candidate side is tiny → broadcast path
    df_b = fn(spark, neardup_dir)
    assert "BroadcastHashJoin" in _plan(df_b), "small-candidate path lost its broadcast"
    rows_b = sorted(map(tuple, df_b.collect()))
    assert len(rows_b) >= 30, "fixture failed to produce a dense candidate set"

    # force the fallback: the verify joins must become shuffle-hash joins —
    # still hash, still candidate-bounded, no all-pairs / nested-loop plan,
    # and no unconditional broadcast of an (assumed-)unbounded side
    monkeypatch.setattr(operators, "BROADCAST_GATE_MAX_BYTES", 0)
    df_s = fn(spark, neardup_dir)
    plan = _plan(df_s)
    assert "ShuffledHashJoin" in plan, "gate fallback did not plan shuffle-hash joins"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows_s = sorted(map(tuple, df_s.collect()))
    assert rows_s == rows_b, "join-strategy gate changed query results"


def test_gated_broadcast_unit(spark, monkeypatch):
    df = spark.range(5)
    monkeypatch.setattr(operators, "BROADCAST_GATE_MAX_BYTES", 100)
    # under the byte gate → broadcast hint
    hinted = operators.gated_broadcast(df, 5, row_bytes=16)
    assert "broadcast" in hinted._jdf.queryExecution().logical().toString().lower()
    # over the gate → shuffle-hash hint, never a bare frame
    fallback = operators.gated_broadcast(df, 11, row_bytes=16)
    logical = fallback._jdf.queryExecution().logical().toString().lower()
    assert "shuffle_hash" in logical
    # the gate is byte-based: the same row count over-gates once the
    # caller declares a fat per-row payload (the shingle-array case)
    fat = operators.gated_broadcast(df, 5, row_bytes=operators.SHINGLE_ROW_BYTES)
    assert "shuffle_hash" in fat._jdf.queryExecution().logical().toString().lower()
