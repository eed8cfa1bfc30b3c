"""Physical-plan quality gates: the properties that keep these queries fast
at 100 TB, asserted against .explain output so regressions are caught at
test time, not at cluster time.

- no row-at-a-time Python (BatchEvalPython) anywhere in the registry
- filters/column pruning reach the parquet scans
- small dims join via broadcast, not shuffle
- whole-stage codegen covers the hot expression paths
"""

from __future__ import annotations

import pytest

from pandaspark.queries import REGISTRY

from .conftest import SF_DIR
from .test_pipeline import ACCOUNT_MAP, csv_dir  # noqa: F401 (fixture)


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_python_row_udfs_in_plan(spark, name):
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan, f"{name} ships rows through Python row UDFs"
    # Scalar Python UDFs (ArrowEvalPython) are never allowed. Pandas
    # kernels — Arrow-batched, vectorized — are allowed ONLY for the
    # dense-linear-algebra exception (q45, q142 and q143 score through
    # similarity.cosine4_tiles; its docstring gives the rationale) and for
    # q201's multimodal codec round trip (WAV encode/decode has no Catalyst
    # expression); everything else must stay JVM-side.
    assert "ArrowEvalPython" not in plan, f"{name} uses Python UDFs in the hot path"
    _PANDAS_KERNEL_ALLOWED = {
        "q45_cosine_neardup",
        "q201_media_pipeline",
        "q142_mutual_nn",
        "q143_margin_mining",
    }
    if name not in _PANDAS_KERNEL_ALLOWED:
        assert "MapInPandas" not in plan, f"{name} uses mapInPandas outside the dense-linalg exception"
        assert "FlatMapGroupsInPandas" not in plan, f"{name} uses applyInPandas outside the dense-linalg exception"


# queries whose driver loop collects a result bounded by a constant, not by
# the data: each q134 power iteration collects its <= 64 per-dimension sums
# (one row per embedding dimension) and puts the next direction into the
# plan as a literal (ROADMAP item 4 names this move)
_BOUNDED_COLLECT = {"q134_power_iteration"}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_driver_collect_in_query_bodies(name):
    """A registered query must return a lazy plan end-to-end: any
    .collect()/.toPandas()/.toLocalIterator() inside the body funnels the
    data through the driver — the scale failure q45 used to have (the whole
    embeddings table in every task closure). Enforced at the source level
    because a driver collect never shows up in the final plan. A query in
    _BOUNDED_COLLECT may .collect() once, and only that."""
    import inspect

    src = inspect.getsource(REGISTRY[name].fn)
    if name in _BOUNDED_COLLECT:
        assert src.count(".collect(") == 1, f"{name} collects more than its bounded aggregate"
        src = src.replace(".collect(", "")
    for banned in (".collect(", ".toPandas(", ".toLocalIterator("):
        assert banned not in src, f"{name} pulls data to the driver via {banned})"


def _walk_jplan(node, visit):
    visit(node)
    children = node.children()
    for i in range(children.size()):
        _walk_jplan(children.apply(i), visit)


def _subtree_has_bounded_input(node) -> bool:
    """True if the subtree aggregates (or globally limits) before the
    window — i.e. the window's input is bounded by construction (e.g. the
    n_partitions-row offsets frame of the two-phase operators)."""
    found = []

    def visit(n):
        if n.getClass().getSimpleName() in ("Aggregate", "GlobalLimit"):
            found.append(True)

    _walk_jplan(node, visit)
    return bool(found)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_partitionless_window_over_unbounded_input(spark, name):
    """A Window with an empty PARTITION BY funnels its entire input through
    ONE task — a scale-killer unless the input is already bounded (an
    aggregate output like the two-phase operators' per-partition offsets).
    q14/q21 regressed on this once; gate the whole registry."""
    df = REGISTRY[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan()
    bad = []

    def visit(n):
        if (
            n.getClass().getSimpleName() == "Window"
            and n.partitionSpec().isEmpty()
            and not _subtree_has_bounded_input(n.children().apply(0))
        ):
            bad.append(n.getClass().getSimpleName())

    _walk_jplan(plan, visit)
    assert not bad, f"{name} has a partition-less window over unbounded input"


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = formatted_plan(spark, "q02_filter_project")
    assert "PushedFilters:" in plan
    assert "GreaterThan(o_totalprice,300000.0)" in plan.replace(" ", "").replace(
        "GreaterThan(o_totalprice,300000.0)", "GreaterThan(o_totalprice,300000.0)"
    ) or "o_totalprice" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_column_pruning_reads_only_needed_columns(spark):
    plan = formatted_plan(spark, "q02_filter_project")
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "o_orderkey" in read_schema and "o_orderstatus" not in read_schema


def test_dim_joins_are_broadcast(spark):
    plan = plan_of(spark, "q16_broadcast_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_and_semi_joins_use_hash_strategies(spark):
    for name in ("q17_anti_join", "q18_semi_join"):
        plan = plan_of(spark, name)
        assert "Join" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, name


def test_cascade_compiles_into_single_projection(spark):
    """The rule cascade must be one narrow CASE-WHEN projection — not a
    chain of plan nodes or a UDF (AQE hides codegen markers pre-execution,
    so assert on the projection structure itself)."""
    plan = plan_of(spark, "q07_rule_cascade")
    assert plan.count("Project") == 1
    assert plan.count("CASE WHEN") == 1
    # partial agg below the exchange: only (category, counts) shuffle
    assert plan.index("partial_count") > plan.index("Exchange")


def test_multijoin_broadcasts_all_dims(spark):
    """TPC-H-shaped joins must broadcast every dimension chain: the only
    allowed shuffle joins are fact⋈fact. A SortMergeJoin against a 5-row
    region (or 25-row nation) would be a 100 TB disaster."""
    for name in ("q53_shipping_priority", "q54_local_supplier_volume"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        # dims joined via broadcast; the single orders⋈lineitem join may be
        # SMJ or shuffled-hash, but never nested-loop/cartesian
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, name


def test_agg_uses_partial_aggregation(spark):
    """groupBy must plan map-side partial agg (HashAggregate appears twice:
    partial then final) — the difference between shuffling raw rows and
    shuffling one row per group per partition at 100 TB."""
    plan = plan_of(spark, "q01_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_exact_dedup_hashes_map_side_before_shuffle(spark):
    plan = plan_of(spark, "q30_exact_dedup")
    # sha2 must be computed in the projection below the exchange (map-side),
    # so the shuffle carries 32-byte hashes, never the raw text column
    assert plan.index("sha2") > plan.index("Exchange"), "hash computed after shuffle"
    scan_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "doc_id" not in scan_schema, "scan reads columns the query never uses"


def test_spread_keeps_pushdown_and_pruning_at_the_scan(spark):
    """spread() (the scan-parallelism equalizer) must sit ABOVE the scan's
    pushed filters and column pruning: its repartition shuffle may only
    carry surviving rows of needed columns. Guards against a future edit
    spreading before filtering."""
    plan = formatted_plan(spark, "q70_repetition_score")
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "IsNotNull(text)" in pushed
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read_schema and "source" not in read_schema


def test_spread_conf_cache_is_per_session_and_dies_with_it(spark):
    """Two sessions with different file-source confs must each see their
    OWN packing estimate (the cache was once keyed on id(session), so a
    GC'd session could bequeath its confs to a new session at the same
    address), and a session's cache entry must die with the session."""
    import gc

    from pandaspark.queries import _SPREAD_CONF_CACHE, spread

    from .conftest import SF_DIR

    p = f"{SF_DIR}/documents.parquet"
    s1, s2 = spark.newSession(), spark.newSession()
    # 1-byte splits -> estimate ~= file bytes >= cores -> spread is a no-op
    s1.conf.set("spark.sql.files.maxPartitionBytes", "1b")
    # 256MB splits -> one small file packs to 1 partition -> must repartition
    s2.conf.set("spark.sql.files.maxPartitionBytes", "256mb")
    df1, df2 = s1.read.parquet(p), s2.read.parquet(p)
    assert spread(df1) is df1
    assert spread(df2) is not df2
    assert _SPREAD_CONF_CACHE[s1] != _SPREAD_CONF_CACHE[s2]

    before = len(_SPREAD_CONF_CACHE)
    del df1, s1
    gc.collect()
    assert len(_SPREAD_CONF_CACHE) < before


def test_spread_short_circuits_nonlocal_many_file_scans(spark):
    """A non-local (s3/hdfs) scan with >= cores files must return unchanged
    WITHOUT the RDD partition probe (full physical planning on the driver)
    and without a repartition — the safe default at exactly the 100 TB
    scale spread() is designed for (packing only reduces partition count
    for tiny files)."""
    from pandaspark.queries import spread

    par = spark.sparkContext.defaultParallelism

    class _FakeScan:
        sparkSession = spark

        def inputFiles(self):
            return [f"s3a://bucket/part-{i:05d}.parquet" for i in range(par)]

        @property
        def rdd(self):
            raise AssertionError("non-local many-file scan paid the RDD probe")

        def repartition(self, n):
            raise AssertionError("non-local many-file scan was repartitioned")

    fake = _FakeScan()
    assert spread(fake) is fake

    # under the file-count threshold the fallback probe is still reached
    class _FewFiles(_FakeScan):
        probed = False

        def inputFiles(self):
            return ["s3a://bucket/part-00000.parquet"]

        @property
        def rdd(self):
            class _R:
                @staticmethod
                def getNumPartitions():
                    _FewFiles.probed = True
                    return 1

            return _R()

        def repartition(self, n):
            return ("repartitioned", n)

    assert spread(_FewFiles()) == ("repartitioned", par)
    assert _FewFiles.probed


def test_runtime_bloom_filter_prunes_shuffle_join_probe_side(spark):
    """Runtime Bloom-filter join pruning — the 100 TB lever for selective
    fact⋈dim SHUFFLE joins (broadcast joins get pushed filters instead):
    Spark injects a bloom_filter_agg on the filtered build side and
    semi-filters the probe side's scan before the shuffle. Fixture tables
    sit far under the production creationSideThreshold (10MB), so the test
    lowers the eligibility thresholds to prove the engine config leaves the
    feature ON and the plan shape is available; at scale the defaults
    govern."""
    from pyspark.sql import functions as F

    from pandaspark.queries import load

    from .conftest import SF_DIR

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load(spark, SF_DIR, "lineitem")
        o = load(spark, SF_DIR, "orders").filter(F.col("o_totalprice") > 500000)
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_new_tpch_shapes_broadcast_dims(spark):
    """Round-5 TPC-H shapes: every dimension chain must broadcast; the only
    shuffle join allowed is fact⋈fact. q96's scalar-threshold cross join is
    exempt from the nested-loop ban — a broadcast of ONE row."""
    for name in (
        "q89_volume_shipping",
        "q90_market_share",
        "q91_returned_items",
        "q93_top_supplier",
        "q94_small_qty_revenue",
        "q95_or_predicate_revenue",
    ):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q91_top20_compiles_to_take_ordered(spark):
    """Top-20-by-revenue must be per-partition heaps + driver merge, never
    a global sort materialization."""
    plan = plan_of(spark, "q91_returned_items")
    assert "TakeOrderedAndProject" in plan


def test_q95_or_predicate_factors_into_both_scans(spark):
    """Catalyst must extract the per-table disjunctions from the OR-of-ANDs
    join predicate and push them into BOTH parquet scans (the canonical
    TPC-H Q19 plan property)."""
    plan = formatted_plan(spark, "q95_or_predicate_revenue")
    blocks = plan.split("PushedFilters:")[1:]
    joined = "|".join(b.split("\n")[0] for b in blocks)
    assert "l_quantity" in joined, "lineitem scan lost the quantity bounds"
    assert "p_brand" in joined, "part scan lost the brand/size disjunction"


def test_q167_pairing_is_join_free(spark):
    """Sorted-neighborhood pairing must come from lead() over the block
    window, never a self-join: the block-equi join form let Spark generate
    all in-block pairs (quadratic in the hottest block, and it recomputed
    the regex-normalize scan on both sides — 37s vs 3.3s at sf0.1)."""
    plan = plan_of(spark, "q167_sorted_neighborhood")
    assert "Join" not in plan, "q167 regressed to a self-join pairing plan"
    assert "Window" in plan


def _analyzed(df) -> str:
    # streaming frames reject executedPlan()/optimizedPlan() before
    # writeStream.start(); the analyzed plan carries what these gates need
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize(
    "name, group_key",
    [("q165_stream_tumbling", "window"), ("q166_stream_sessions", "session_window")],
)
def test_q165_q166_stream_state_is_watermarked(spark, monkeypatch, name, group_key):
    """q165 (tumbling) and q166 (session) must group by their event-time
    window under exactly one watermark: it is what lets the state store
    finalize and evict closed windows on an unbounded stream."""
    from pandaspark.queries import streaming_reg

    # the entry's frame, un-started: swap the memory-sink runner for identity
    monkeypatch.setattr(streaming_reg, "run_to_memory", lambda df, *a, **k: df)
    plan = _analyzed(REGISTRY[name].fn(spark, SF_DIR))
    assert plan.count("EventTimeWatermark") == 1, f"{name} lost or doubled its watermark"
    assert f"Aggregate [{group_key}#" in plan, f"{name} no longer groups by {group_key}"


def test_q176_streaming_dim_join_broadcasts(spark):
    """The stream-static join must broadcast the dim: shuffling the stream
    against customer would rebuild an exchange every micro-batch."""
    from pandaspark.queries.streaming_reg import _q176_frame

    plan = _analyzed(_q176_frame(spark, SF_DIR))
    assert "broadcast" in plan.lower(), "q176 lost the broadcast hint on the dim side"
    assert plan.count("EventTimeWatermark") == 1


def test_q177_stream_stream_join_state_is_evictable(spark):
    """Both stream sides must carry watermarks and the join must bound event
    time in both directions — the two conditions Spark needs to evict
    buffered rows; without them stream-stream join state grows forever."""
    from pandaspark.queries.streaming_reg import _q177_frame

    plan = _analyzed(_q177_frame(spark, SF_DIR))
    assert plan.count("EventTimeWatermark") == 2, "a join side lost its watermark"
    assert "Join Inner" in plan


def _two_phase_shape(**counts) -> dict[str, int]:
    zero = dict.fromkeys(("scans", "reused_exchanges", "python_execs"), 0)
    return {**zero, **counts}


# the callers of the two-phase prefix operator (operators.sequential_ids,
# ranked_running_total): one range exchange, one count exchange and one
# offsets exchange per two-phase pass, the offsets broadcast back, and the
# range layout pinned behind a checkpoint
_TWO_PHASE_SHAPES = {
    "q14_sequential_ids": _two_phase_shape(exchanges=3, broadcasts=1, checkpoint_scans=2),
    "q88_spend_deciles": _two_phase_shape(scans=1, exchanges=6, broadcasts=2, checkpoint_scans=2),
    "q123_ngram_coverage": _two_phase_shape(exchanges=5, broadcasts=2, checkpoint_scans=3),
    "q129_negative_sampling": _two_phase_shape(scans=1, exchanges=3, broadcasts=2, checkpoint_scans=2),
    "q130_curriculum": _two_phase_shape(exchanges=3, broadcasts=1, checkpoint_scans=2),
}


@pytest.mark.parametrize("name", sorted(_TWO_PHASE_SHAPES))
def test_two_phase_callers_keep_their_plan_shape(spark, name):
    from perfbench.metrics import plan_shape

    assert plan_shape(plan_of(spark, name)) == _TWO_PHASE_SHAPES[name]


def test_prepare_for_store_keeps_its_plan_shape(spark, csv_dir):
    """The import path's numbering has q14's shape: the CSV scan sits
    behind the layout checkpoint, so the final plan scans no file."""
    from perfbench.metrics import plan_shape
    from pandaspark.ingest import read_ing_csv
    from pandaspark.store import prepare_for_store

    batch = prepare_for_store(read_ing_csv(spark, csv_dir, account_map=ACCOUNT_MAP))
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert plan_shape(plan) == _two_phase_shape(exchanges=3, broadcasts=1, checkpoint_scans=2)
