"""Edge-case tests for composite operators (asof/latest-per-key/two-phase)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pandaspark.operators import (
    asof_join,
    asof_join_bucketed,
    latest_per_key,
)


def test_asof_join_colliding_names_ties_and_no_match(spark):
    l = spark.createDataFrame([(1, 100), (1, 300), (2, 50)], "k int, t int")
    r = spark.createDataFrame(
        [(1, 200, "late"), (1, 100, "attime"), (1, 100, "attime2")], "k int, t int, v string"
    )
    out = sorted(
        tuple(x)
        for x in asof_join(l, r, "k", "k", left_time="t", right_time="t", tiebreak=["v"]).collect()
    )
    assert out == [
        (1, 100, 1, 100, "attime2"),  # exact-time match allowed, tie → v desc
        (1, 300, 1, 200, "late"),  # latest prior
        (2, 50, None, None, None),  # left row without match survives (how=left)
    ]


def test_asof_join_bucketed_equals_anchor_edge_cases(spark):
    """The bucketed form must reproduce the anchor exactly, including
    exact-time inclusivity, tie-breaks, no-match lefts, and matches that
    CROSS bucket boundaries (bucket_seconds=60 on second-scale data forces
    the carry path: lefts whose latest right sits buckets earlier)."""
    l = spark.createDataFrame(
        [(1, 100), (1, 300), (1, 1000), (2, 50), (3, 700)], "k int, t int"
    )
    r = spark.createDataFrame(
        [(1, 200, "late"), (1, 100, "attime"), (1, 100, "attime2"), (3, 100, "far")],
        "k int, t int, v string",
    )
    want = sorted(
        tuple(x)
        for x in asof_join(l, r, "k", "k", left_time="t", right_time="t", tiebreak=["v"]).collect()
    )
    got = sorted(
        tuple(x)
        for x in asof_join_bucketed(
            l, r, "k", "k", left_time="t", right_time="t", tiebreak=["v"], bucket_seconds=60
        ).collect()
    )
    assert got == want
    # the k=3 match crossed 10 buckets (t=100 → t=700): carry path exercised
    assert (3, 700, 3, 100, "far") in got


def test_asof_join_bucketed_equals_anchor_on_q28_shape(spark):
    """Full-size equivalence on the q28 data (orders ← latest prior event):
    bucketed plan output == anchor output, row for row."""
    from pandaspark.queries import load

    from .conftest import SF_DIR

    o = load(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    e = load(spark, SF_DIR, "events").select("event_id", "user_id", "ts", "value")
    kwargs = dict(
        left_on=F.col("o_custkey") % 10,
        right_on=F.col("user_id"),
        left_time="o_orderdate",
        right_time="ts",
        tiebreak=["event_id"],
    )
    want = {
        (r.o_orderkey, r.event_id, r.value)
        for r in asof_join(o, e, **kwargs).collect()
    }
    got = {
        (r.o_orderkey, r.event_id, r.value)
        for r in asof_join_bucketed(o, e, **kwargs).collect()
    }
    assert got == want and len(got) == o.count()


def test_latest_per_key_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 10, "x"), (1, 10, "y"), (2, 5, "z")], "k int, ver int, payload string"
    )
    got = {r.k: r.payload for r in latest_per_key(df, ["k"], ["ver", "payload"]).collect()}
    assert got == {1: "y", 2: "z"}  # ties broken by the full order_by list


def test_two_phase_running_total_equals_global_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pandaspark.operators import ranked_running_total
    from pandaspark.queries import load

    from .conftest import SF_DIR

    o = load(spark, SF_DIR, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    order_cols = ["o_orderdate", "o_orderkey"]

    got = ranked_running_total(o, order_cols, cents, total_alias="rt").select(
        "o_orderkey", "rt"
    )
    naive_w = (
        Window.orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = o.select("o_orderkey", F.sum(cents).over(naive_w).alias("rt"))
    g = {r.o_orderkey: r.rt for r in got.collect()}
    w = {r.o_orderkey: r.rt for r in want.collect()}
    assert g == w and len(g) > 0

    # the scale property: the full-data cumsum window is keyed by the
    # range-partition id (parallel), never partition-less. The range
    # exchange itself is no longer visible in this plan — the layout is
    # pinned behind a localCheckpoint (Scan ExistingRDD) so the offsets
    # job and the cumsum job cannot re-sample different range bounds.
    plan = got._jdf.queryExecution().executedPlan().toString()
    norm = plan.lower().replace(" ", "")
    assert "windowspecdefinition(_pid" in norm
    assert "existingrdd" in norm  # checkpointed layout, not a re-evaluated plan


def test_sequence_packing_prefix_equals_two_phase_form(spark):
    """q74's per-lang exclusive prefix sum (the window form) must equal the
    100 TB composition its docstring promises: a GLOBAL two-phase running
    total over (lang, doc_id) minus broadcast per-lang start offsets —
    no partition-width window anywhere in that path."""
    from pyspark.sql import Window

    from pandaspark.operators import ranked_running_total
    from pandaspark.queries import load as qload

    from .conftest import SF_DIR

    d = (
        qload(spark, SF_DIR, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("n_tokens"),
        )
    )
    # window (anchor) form
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    anchor = d.select(
        "doc_id",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")).alias("prev"),
    )
    # two-phase form: global inclusive cumsum over (lang, doc_id), then
    # subtract the per-lang prefix offset and the row's own value
    cum = ranked_running_total(
        d, ["lang", "doc_id"], F.col("n_tokens"), total_alias="_cum"
    )
    lang_tot = cum.groupBy("lang").agg(
        (F.min(F.col("_cum") - F.col("n_tokens"))).alias("_lang_start")
    )
    two_phase = cum.join(F.broadcast(lang_tot), "lang").select(
        "doc_id",
        (F.col("_cum") - F.col("n_tokens") - F.col("_lang_start")).alias("prev"),
    )
    a = {r.doc_id: r.prev for r in anchor.collect()}
    b = {r.doc_id: r.prev for r in two_phase.collect()}
    assert a == b


def test_salted_join_equals_plain_join_on_skewed_keys(spark):
    """salted_join must produce exactly the plain join's row multiset on a
    deliberately skewed key distribution (half the probe side shares one
    key)."""
    from pandaspark.operators import salted_join
    from .conftest import SF_DIR
    from pandaspark.queries import load as qload

    li = qload(spark, SF_DIR, "lineitem").limit(2000)
    # skew: ~half the rows collapse onto key 1; the rest keep natural keys
    left = li.select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_partkey",
        "l_quantity",
    )
    o = qload(spark, SF_DIR, "orders").limit(500)
    right = o.select(F.col("o_orderkey").alias("k"), "o_totalprice")

    plain = left.join(right, "k")
    salted = salted_join(left, right, "k", salt=8)
    assert salted.columns == plain.columns
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


class TestChunkManifest:
    """Edge semantics of the q97 sliding-window chunk manifest: full token
    coverage, stride-aligned starts, clamped ends — the invariants a
    tokenizer stage downstream depends on."""

    def _manifest(self, spark, tmp_path, docs):
        from pandaspark.queries import REGISTRY

        spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        rows = REGISTRY["q97_chunk_manifest"].fn(spark, str(tmp_path)).collect()
        return sorted((r.doc_id, r.chunk_idx, r.tok_start, r.tok_end) for r in rows)

    def test_single_token_doc_yields_one_chunk(self, spark, tmp_path):
        m = self._manifest(spark, tmp_path, [(1, "hello", "en", "s", 5)])
        assert m == [(1, 0, 0, 1)]

    def test_exact_chunk_multiple_and_coverage(self, spark, tmp_path):
        # 48 tokens: starts 0,24 → chunks [0,32),[24,48); every token in
        # some chunk, consecutive chunks overlap by CHUNK-STRIDE tokens
        text48 = " ".join(f"t{i}" for i in range(48))
        m = self._manifest(spark, tmp_path, [(7, text48, "en", "s", len(text48))])
        assert m == [(7, 0, 0, 32), (7, 1, 24, 48)]
        covered = set()
        for _, _, s, e in m:
            covered.update(range(s, e))
        assert covered == set(range(48))

    def test_starts_are_stride_aligned_and_ends_clamped(self, spark, tmp_path):
        text70 = " ".join(f"t{i}" for i in range(70))
        m = self._manifest(spark, tmp_path, [(9, text70, "en", "s", len(text70))])
        assert [r[2] for r in m] == [0, 24, 48]
        assert all(r[3] <= 70 for r in m)
        assert m[-1][3] == 70


def test_sequential_ids_dense_at_scale(spark):
    """Regression gate for the layout-pinning bug: repartitionByRange
    samples its range bounds per physical evaluation, so before the
    localCheckpoint pin the offsets job and the numbering job could see
    DIFFERENT partitionings — at ~136k rows the 5x sweep produced ids
    exceeding the row count. The invariant that catches any recurrence:
    ids are exactly the dense sequence 1..n (so max == n == distinct)."""
    from pyspark.sql import functions as F

    from pandaspark.operators import ranked_running_total, sequential_ids

    n = 200_000
    # non-uniform key distribution (hash-scrambled) so range sampling has
    # real boundary choices to disagree about
    df = spark.range(n).select(
        F.sha2(F.col("id").cast("string"), 256).alias("k"), F.lit(1).alias("one")
    )
    ids = sequential_ids(df, ["k"], alias="sid")
    agg = ids.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("sid").alias("mx"),
        F.min("sid").alias("mn"),
        F.count_distinct("sid").alias("d"),
    ).collect()[0]
    assert (agg.cnt, agg.mx, agg.mn, agg.d) == (n, n, 1, n)

    rt = ranked_running_total(df, ["k"], F.col("one").cast("long"), total_alias="rt")
    agg2 = rt.agg(F.max("rt").alias("mx"), F.count_distinct("rt").alias("d")).collect()[0]
    # cumsum of all-ones in a total order is also the dense sequence 1..n
    assert (agg2.mx, agg2.d) == (n, n)


def test_ranked_running_total_equals_global_windows(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pandaspark.operators import ranked_running_total
    from pandaspark.queries import load

    from .conftest import SF_DIR

    o = load(spark, SF_DIR, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    order_cols = ["o_orderdate", "o_orderkey"]

    fused = ranked_running_total(
        o, order_cols, cents, total_alias="rt"
    ).select("o_orderkey", "rk", "rt")
    # the naive single-partition global windows: an independent reference
    naive_w = Window.orderBy(*order_cols)
    naive = o.select(
        "o_orderkey",
        F.row_number().over(naive_w).alias("rk"),
        F.sum(cents)
        .over(naive_w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("rt"),
    )
    got = {r.o_orderkey: (r.rk, r.rt) for r in fused.collect()}
    want = {r.o_orderkey: (r.rk, r.rt) for r in naive.collect()}
    assert got == want and len(got) > 0

    # fusion claim, asserted structurally on the plan: row_number AND the
    # cumulative sum must ride ONE _pid-keyed Window operator over ONE
    # checkpointed layout — a physical Window line that carries both
    # expressions
    plan = fused._jdf.queryExecution().executedPlan().toString()
    # dedupe: AdaptiveSparkPlan prints initial + final plans
    win_lines = sorted({
        ln.strip() for ln in plan.lower().replace(" ", "").splitlines()
        if "window[" in ln and "windowspecdefinition(_pid" in ln
    })
    assert len(win_lines) == 2, win_lines  # fused local window + offsets window
    local_win = [ln for ln in win_lines if "row_number()" in ln]
    assert len(local_win) == 1 and "sum(_v" in local_win[0], win_lines
    offs_win = [ln for ln in win_lines if "sum(_n" in ln]
    assert len(offs_win) == 1 and "sum(_part_total" in offs_win[0], win_lines


def test_grouped_weighted_median_equals_global_window(spark):
    """Histogram-refine selection must equal the direct cumulative-window
    form bit-for-bit — on real data (near-unique values), on heavy ties
    (crossing inside a tie run), and on negative values (arithmetic-shift
    bucketing must stay value-ordered)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pandaspark.operators import grouped_weighted_median
    from pandaspark.queries import load

    from .conftest import SF_DIR

    def naive(df):
        wg = Window.partitionBy("_g")
        c = df.withColumn(
            "cw",
            F.sum("_w").over(
                wg.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
            ),
        ).withColumn("tw", F.sum("_w").over(wg))
        return {
            r._g: (r.m, r.t)
            for r in c.groupBy("_g")
            .agg(
                F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("_v"))).alias("m"),
                F.max("tw").alias("t"),
            )
            .collect()
        }

    li = load(spark, SF_DIR, "lineitem").select(
        F.col("l_returnflag").alias("_g"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("_v"),
        F.col("l_quantity").cast("long").alias("_w"),
    )
    got = {
        r._g: (r.wm_value, r.total_weight)
        for r in grouped_weighted_median(li, "_g", F.col("_v"), F.col("_w")).collect()
    }
    assert got == naive(li) and len(got) == 3

    # ties + negatives + a group whose mass sits in one bucket, with a
    # bucket width of 2 so the refine scan actually has to discriminate
    rows = [
        ("a", -5, 3), ("a", -5, 3), ("a", 0, 1), ("a", 7, 2),
        ("b", 10, 1), ("b", 10, 1), ("b", 10, 1), ("b", 11, 2),
        ("c", -(1 << 40), 1), ("c", 1 << 40, 1), ("c", 2, 1),
    ]
    tiny = spark.createDataFrame(rows, "_g string, _v long, _w long")
    got2 = {
        r._g: (r.wm_value, r.total_weight)
        for r in grouped_weighted_median(
            tiny, "_g", F.col("_v"), F.col("_w"), bucket_bits=1
        ).collect()
    }
    assert got2 == naive(tiny)


def test_sequential_ids_total_alias(spark):
    """total_alias must equal the frame's row count on every row, ride the
    broadcast offsets join (no extra count job), and leave ids unchanged."""
    from pyspark.sql import functions as F
    from pandaspark.operators import sequential_ids
    from pandaspark.queries import load

    from .conftest import SF_DIR

    o = load(spark, SF_DIR, "orders")
    got = sequential_ids(
        o, ["o_orderdate", "o_orderkey"], alias="rk", total_alias="n"
    ).select("o_orderkey", "rk", "n")
    rows = got.collect()
    n_rows = len(rows)
    assert n_rows > 0
    assert {r.n for r in rows} == {n_rows}
    base = sequential_ids(o, ["o_orderdate", "o_orderkey"], alias="rk").select(
        "o_orderkey", "rk"
    )
    assert {(r.o_orderkey, r.rk) for r in rows} == {
        (r.o_orderkey, r.rk) for r in base.collect()
    }


def test_grouped_quantiles_bucket_refine_equals_builtin_percentile(spark):
    """Bucket-refine selection must be bit-identical to F.percentile's
    interpolated quantiles — on real near-unique data and on a tie-heavy
    tiny frame with a torture bucket width."""
    from pyspark.sql import functions as F
    from pandaspark.operators import grouped_quantiles_bucket_refine
    from pandaspark.queries import load

    from .conftest import SF_DIR

    def check(df, qs, bits):
        got = {
            r._g: tuple(r[f"q_{str(q).replace('.', '_')}"] for q in qs) + (r.n,)
            for r in grouped_quantiles_bucket_refine(
                df, "_g", F.col("_v"), qs, bucket_bits=bits
            ).collect()
        }
        want = {
            r._g: tuple(r[f"p{i}"] for i in range(len(qs))) + (r.n,)
            for r in df.groupBy("_g")
            .agg(
                *[
                    F.percentile(F.col("_v"), F.lit(q)).alias(f"p{i}")
                    for i, q in enumerate(qs)
                ],
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }
        assert got == want and len(got) > 0

    li = load(spark, SF_DIR, "lineitem").select(
        F.col("l_returnflag").alias("_g"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("_v"),
    )
    check(li, [0.0, 0.25, 0.5, 0.9, 1.0], 10)

    rows = [("a", v) for v in [5, 5, 5, 7, -3, -3, 11, 2]] + [
        ("b", v) for v in [-(1 << 40), 1 << 40, 0]
    ] + [("c", 42)]
    tiny = spark.createDataFrame(rows, "_g string, _v long")
    check(tiny, [0.1, 0.5, 0.99], 1)


def test_bucket_refine_operators_reject_fractional_values(spark):
    """The bucket-refine operators shift the value cast to long; a
    fractional value truncates toward zero (-0.5 and 0.5 share bucket 0)
    and silently breaks the bucket-ordering invariant. The documented
    'must be integral' precondition is enforced, not trusted."""
    import pytest as _pytest

    from pandaspark.operators import (
        grouped_quantiles_bucket_refine,
        grouped_weighted_median,
    )

    frac = spark.createDataFrame(
        [("a", -0.5, 1), ("a", 0.5, 1)], "_g string, _v double, _w long"
    )
    with _pytest.raises(TypeError, match="integral"):
        grouped_quantiles_bucket_refine(frac, "_g", F.col("_v"), [0.5])
    with _pytest.raises(TypeError, match="integral"):
        grouped_weighted_median(frac, "_g", F.col("_v"), F.col("_w"))
    # fractional WEIGHT is also rejected (exact-long weights are the
    # bit-equality precondition)
    fw = spark.createDataFrame(
        [("a", 1, 0.5), ("a", 2, 1.5)], "_g string, _v long, _w double"
    )
    with _pytest.raises(TypeError, match="integral"):
        grouped_weighted_median(fw, "_g", F.col("_v"), F.col("_w"))


def test_bucket_refine_accepts_scale0_decimal(spark):
    """DecimalType(p, 0) with p <= 18 is exactly integral and fits a long,
    so it buckets correctly after the internal cast — accepted, and the
    result matches the same data as plain longs. Wider or scaled decimals
    stay rejected (19 digits can exceed Long.MaxValue; scale > 0 is
    fractional)."""
    import pytest as _pytest

    from pandaspark.operators import grouped_quantiles_bucket_refine

    rows = [("a", v) for v in [5, 5, 7, -3, 11, 2]] + [("b", v) for v in [0, 9, 4]]
    dec = spark.createDataFrame(rows, "_g string, _v long").select(
        "_g", F.col("_v").cast("decimal(12,0)").alias("_v")
    )
    got = {
        r._g: r.q_0_5
        for r in grouped_quantiles_bucket_refine(dec, "_g", F.col("_v"), [0.5]).collect()
    }
    lng = spark.createDataFrame(rows, "_g string, _v long")
    want = {
        r._g: r.q_0_5
        for r in grouped_quantiles_bucket_refine(lng, "_g", F.col("_v"), [0.5]).collect()
    }
    assert got == want and len(got) == 2

    wide = dec.select("_g", F.col("_v").cast("decimal(19,0)").alias("_v"))
    with _pytest.raises(TypeError, match="integral"):
        grouped_quantiles_bucket_refine(wide, "_g", F.col("_v"), [0.5])
    scaled = dec.select("_g", F.col("_v").cast("decimal(12,2)").alias("_v"))
    with _pytest.raises(TypeError, match="integral"):
        grouped_quantiles_bucket_refine(scaled, "_g", F.col("_v"), [0.5])
