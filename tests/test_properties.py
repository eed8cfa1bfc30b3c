"""Hypothesis property tests over the scalar library and the rule cascade
(SURVEY.md §5.2 item 3). Each example batches many generated rows into ONE
Spark job, so randomized coverage stays fast."""

from __future__ import annotations

import datetime as dt
import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pandaspark.functions import fingerprint, german_number_sql, parse_german_number
from pandaspark.rules import SubstringRule, apply_cascade

FAST = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _german(cents: int) -> str:
    sign = "-" if cents < 0 else ""
    euros, rest = divmod(abs(cents), 100)
    whole = f"{euros:,}".replace(",", ".")
    return f"{sign}{whole},{rest:02d}"


@FAST
@given(st.lists(st.integers(min_value=-(10**13), max_value=10**13), min_size=1, max_size=50))
def test_german_number_roundtrip(spark, cents_list):
    rows = [(i, _german(c)) for i, c in enumerate(cents_list)]
    df = spark.createDataFrame(rows, "i int, s string")
    out = df.select(
        "i",
        (parse_german_number("s") * 100).cast("long").alias("cents"),
        # the SQL-text twin the CSV reader uses
        F.expr(f"CAST({german_number_sql('s')} * 100 AS BIGINT)").alias("sql_cents"),
    ).collect()
    assert {r.i: r.cents for r in out} == {i: c for i, c in enumerate(cents_list)}
    assert all(r.sql_cents == r.cents for r in out)


_text = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
        max_size=30,
    ),
)


@FAST
@given(
    st.lists(
        st.tuples(_text, _text, _text, st.one_of(st.none(), st.integers(-(10**9), 10**9))),
        min_size=1,
        max_size=30,
    )
)
def test_fingerprint_matches_reference_semantics(spark, rows):
    """fingerprint == sha256 of '|'-joined natural key with nulls → ''/'0'
    (the reference's exact padding), for arbitrary unicode incl. '|'."""
    d0 = dt.date(2024, 1, 15)
    d1 = dt.date(2024, 1, 16)
    data = [("acct", d0, d1, p, b, u, c) for (p, b, u, c) in rows]
    df = spark.createDataFrame(
        data,
        "account string, book_date date, valuta_date date, party string,"
        " book_text string, purpose string, amount_cents long",
    )
    got = [r.fp for r in df.select(fingerprint().alias("fp")).collect()]
    want = [
        hashlib.sha256(
            "|".join(
                [
                    "acct",
                    "2024-01-15",
                    "2024-01-16",
                    p if p is not None else "",
                    b if b is not None else "",
                    u if u is not None else "",
                    str(c) if c is not None else "0",
                ]
            ).encode()
        ).hexdigest()
        for (p, b, u, c) in rows
    ]
    assert got == want


@FAST
@given(
    st.lists(st.sets(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), max_size=5), min_size=1, max_size=40),
    st.permutations(["aa", "bb", "cc", "dd", "ee"]),
)
def test_cascade_precedence_last_match_wins(spark, row_tokens, rule_order):
    """For a row containing tokens {t...}, the cascade must assign the
    category of the LAST rule (in declaration order) whose token appears —
    the reference's dict-order overwrite semantics, for every permutation."""
    rules = [SubstringRule(f"cat_{tok}", "party", tok) for tok in rule_order]
    data = [(i, " ".join(sorted(toks)) or None) for i, toks in enumerate(row_tokens)]
    df = spark.createDataFrame(data, "i int, party string")
    got = {r.i: r.category for r in apply_cascade(df, rules).collect()}
    for i, toks in enumerate(row_tokens):
        matching = [t for t in rule_order if t in toks]
        want = f"cat_{matching[-1]}" if matching else None
        assert got[i] == want, (i, toks, rule_order)


# --- round-5 operators vs independent Python references ---------------------


def _py_chunks(n_tok: int, chunk: int = 32, stride: int = 24):
    """Reference chunker: stride-aligned starts below n_tok (min one chunk),
    ends clamped."""
    starts = list(range(0, max(n_tok, 1), stride))
    return [(s, min(s + chunk, n_tok)) for s in starts]


@FAST
@given(st.lists(st.integers(min_value=0, max_value=90), min_size=1, max_size=20))
def test_chunk_manifest_matches_python_reference(spark, tmp_path_factory, tok_counts):
    from pandaspark.queries import REGISTRY

    docs = [
        (i, " ".join(f"w{j}" for j in range(n)) if n else "", "en", "s", n)
        for i, n in enumerate(tok_counts)
    ]
    tmp = tmp_path_factory.mktemp("chunkprop")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    got = {}
    for r in REGISTRY["q97_chunk_manifest"].fn(spark, str(tmp)).collect():
        got.setdefault(r.doc_id, []).append((r.tok_start, r.tok_end))
    for doc_id, n in enumerate(tok_counts):
        assert sorted(got[doc_id]) == _py_chunks(n), f"doc {doc_id} ({n} tokens)"


@FAST
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # user
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.integers(min_value=0, max_value=10**6),  # seconds offset
        ),
        min_size=1,
        max_size=60,
    )
)
def test_ordered_funnel_matches_python_reference(spark, tmp_path_factory, events):
    import datetime as _dt

    from pandaspark.queries import REGISTRY

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, base + _dt.timedelta(seconds=s), u, t, 1.0, "{}")
        for i, (u, t, s) in enumerate(events)
    ]
    tmp = tmp_path_factory.mktemp("funnelprop")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    row = REGISTRY["q99_ordered_funnel"].fn(spark, str(tmp)).collect()[0]

    # independent reference: first-touch minima per user, strict ordering
    firsts: dict[int, dict[str, _dt.datetime]] = {}
    for u, t, s in events:
        ts = base + _dt.timedelta(seconds=s)
        d = firsts.setdefault(u, {})
        if t not in d or ts < d[t]:
            d[t] = ts
    viewed = sum(1 for d in firsts.values() if "view" in d)
    clicked = sum(
        1
        for d in firsts.values()
        if "view" in d and "click" in d and d["click"] > d["view"]
    )
    full = sum(
        1
        for d in firsts.values()
        if "view" in d
        and "click" in d
        and "purchase" in d
        and d["click"] > d["view"]
        and d["purchase"] > d["click"]
    )
    assert (row.viewed, row.clicked_after_view, row.full_funnel) == (viewed, clicked, full)


def test_kmeans_matches_numpy_reference(spark, tmp_path_factory):
    """q100's 2 Lloyd iterations against a plain numpy replay on a small
    deterministic dataset: same seeds, same micro-unit centroid
    quantization, same argmin tie-break."""
    import numpy as np

    from pandaspark.queries import REGISTRY
    from pandaspark.queries.pipeline3 import _KM_DIMS, _KM_K

    rng = np.random.RandomState(7)
    n = 60
    vecs = rng.randn(n, _KM_DIMS).astype(np.float32)
    tmp = tmp_path_factory.mktemp("kmprop")
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], i % 3) for i in range(n)],
        "vec_id long, embedding array<float>, label long",
    ).write.mode("overwrite").parquet(str(tmp / "embeddings.parquet"))
    got = {
        r.cluster: (r.n, r.id_sum, r.inertia)
        for r in REGISTRY["q100_kmeans"].fn(spark, str(tmp)).collect()
    }

    emb = vecs.astype(np.float64)
    cents = emb[:_KM_K].copy()

    def assign(c):
        out = []
        for v in emb:
            d = ((v[None, :] - c) ** 2).sum(axis=1)
            k = int(np.lexsort((np.arange(len(c)), d))[0])  # ties → lowest id
            out.append((k, float(d[k])))
        return out

    a1 = assign(cents)
    new = []
    for k in sorted({k for k, _ in a1}):
        members = emb[[i for i, (ki, _) in enumerate(a1) if ki == k]]
        micro = np.floor(members * 1e6 + 0.5).sum(axis=0)
        new.append(micro / len(members) / 1e6)
    clusters1 = sorted({k for k, _ in a1})
    a2 = assign(np.array(new))
    ref: dict[int, tuple] = {}
    for i, (ki, d) in enumerate(a2):
        k = clusters1[ki]  # row index in new → surviving cluster id
        cnt, ids, inertia = ref.get(k, (0, 0, 0))
        ref[k] = (cnt + 1, ids + i, inertia + int(np.floor(d * 10000 + 0.5)))
    ref = {k: (c, s, ie / 10000.0) for k, (c, s, ie) in ref.items()}
    assert got == ref


def test_ols_trend_matches_numpy_reference(spark, tmp_path_factory):
    """q104's integer-sufficient-statistics OLS against numpy.polyfit on a
    small controlled dataset, including the single-month NULL-slope edge."""
    import datetime as _dt

    import numpy as np

    from pandaspark.queries import REGISTRY

    tmp = tmp_path_factory.mktemp("olsprop")
    rng = np.random.RandomState(11)
    orders, custs, nations = [], [], []
    # nation 0: 6 months of data; nation 1: single month (NULL slope edge)
    for nk, months in ((0, range(6)), (1, [2])):
        custs.append((nk * 10, f"c{nk}", nk, 0.0, "SEG"))
        nations.append((nk, f"NATION_{nk}", 0))
        for m in months:
            for i in range(3):
                orders.append(
                    (
                        len(orders),
                        nk * 10,
                        "O",
                        float(round(rng.uniform(10, 500), 2)),
                        _dt.datetime(1995, 1 + m, 5 + i),
                        "1-URGENT",
                    )
                )
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))
    spark.createDataFrame(
        custs, "c_custkey long, c_name string, c_nationkey long, c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(str(tmp / "customer.parquet"))
    spark.createDataFrame(nations, "n_nationkey long, n_name string, n_regionkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp / "nation.parquet"))

    got = {r.n_name: r for r in REGISTRY["q104_revenue_trend"].fn(spark, str(tmp)).collect()}

    # reference: cents-exact monthly sums, then polyfit
    monthly: dict[tuple, int] = {}
    for ok, ck, _st, price, dt_, _pr in orders:
        nk = ck // 10
        m = (dt_.year - 1995) * 12 + (dt_.month - 1)
        monthly[(nk, m)] = monthly.get((nk, m), 0) + int(round(price * 100))
    for nk, name in ((0, "NATION_0"), (1, "NATION_1")):
        pts = sorted((m, c) for (k, m), c in monthly.items() if k == nk)
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        assert got[name].n_months == len(pts)
        if len(pts) < 2:
            assert got[name].slope_eur_per_month is None
        else:
            slope = np.polyfit(xs, ys, 1)[0] / 100.0
            assert abs(got[name].slope_eur_per_month - slope) < 1e-3
        mean = ys.mean() / 100.0
        assert abs(got[name].mean_monthly_eur - mean) < 1e-3


def test_q118_prefix_filter_equals_naive(spark, ddb):
    """Prefix-filter completeness (the AllPairs/PPJoin pigeonhole theorem),
    checked against ground truth: the registered q118 plan never prunes a
    true pair. Naive all-pairs is only feasible on a subset (list_intersect
    over every pair costs ~30s corpus-wide in DuckDB), so the equality is
    asserted for all pairs with both doc_ids < 200 — which still covers 10
    true near-dup pairs at sf0.001."""
    from pandaspark.queries import REGISTRY

    from .conftest import SF_DIR

    bound = 200
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.uni)
        for r in REGISTRY["q118_prefix_filter_join"].fn(spark, SF_DIR).collect()
        if r.doc_a < bound and r.doc_b < bound
    }
    naive = ddb.execute(f"""
WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
              FROM documents WHERE text IS NOT NULL AND doc_id < {bound}),
sh AS (SELECT doc_id, list_distinct([substring(t, i, 16)
                  FOR i IN range(1, greatest(length(t) - 15, 1) + 1)]) AS s FROM norm),
sz AS (SELECT doc_id, s, length(s) AS n FROM sh),
p AS (SELECT a.doc_id AS da, b.doc_id AS db,
             length(list_intersect(a.s, b.s)) AS i, a.n + b.n AS ns
      FROM sz a JOIN sz b
        ON a.doc_id < b.doc_id AND a.n * 10 >= b.n * 9 AND b.n * 10 >= a.n * 9)
SELECT da, db, i, ns - i AS u FROM p WHERE i * 10 >= (ns - i) * 9
""").fetchall()
    want = {(da, db): (i, u) for da, db, i, u in naive}
    assert want, "naive subset found no pairs — test would be vacuous"
    assert got == want


@FAST
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["Brand#1", "Brand#2"]),
            st.integers(min_value=100, max_value=2000),  # price cents
            st.integers(min_value=1, max_value=20),  # size
        ),
        min_size=1,
        max_size=60,
    )
)
def test_q152_skyline_equals_naive_dominance(spark, tmp_path_factory, parts):
    """The sort-based window skyline must equal the O(n^2) dominance
    definition: a distinct (price, size) point survives iff no same-brand
    point is <= in price AND >= in size with at least one strict."""
    from pandaspark.queries import REGISTRY

    rows = [
        (i, f"part{i}", b, "T", sz, pc / 100.0) for i, (b, pc, sz) in enumerate(parts)
    ]
    tmp = tmp_path_factory.mktemp("skyprop")
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp / "part.parquet"))
    got = {
        (r.p_brand, round(r.price * 100), r.p_size)
        for r in REGISTRY["q152_pareto_frontier"].fn(spark, str(tmp)).collect()
    }
    pts = {(b, pc, sz) for b, pc, sz in parts}
    expect = {
        (b, pc, sz)
        for (b, pc, sz) in pts
        if not any(
            b2 == b
            and pc2 <= pc
            and sz2 >= sz
            and (pc2 < pc or sz2 > sz)
            for (b2, pc2, sz2) in pts
        )
    }
    assert got == expect


@FAST
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.sampled_from(["click", "purchase", "view"]),
            st.integers(min_value=0, max_value=3000),  # seconds offset
        ),
        min_size=1,
        max_size=60,
    )
)
def test_q154_nearest_join_equals_brute_force(spark, tmp_path_factory, events):
    """The window-based nearest-event join must equal the brute-force
    definition: nearest same-user click within +/-600s, ties to before."""
    import datetime as _dt

    from pandaspark.queries import REGISTRY

    base = _dt.datetime(2024, 1, 1)
    # unique microsecond offsets make timestamps distinct (ties between a
    # click and a purchase at the same instant are a separate, documented
    # arrival-order rule — not what this property exercises)
    rows = [
        (i, base + _dt.timedelta(seconds=s, microseconds=i), u, t, 1.0, "{}")
        for i, (u, t, s) in enumerate(events)
    ]
    tmp = tmp_path_factory.mktemp("nearprop")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    got = {
        r.event_id: (r.delta_us, r.click_side)
        for r in REGISTRY["q154_nearest_event_join"].fn(spark, str(tmp)).collect()
    }
    # exact integer microseconds: total_seconds() is a float and
    # int(1.000001 * 1e6) truncates to 1000000 — hypothesis found the
    # off-by-one against Spark's exact 1000001
    us = {
        i: (r[1] - base) // _dt.timedelta(microseconds=1) for i, r in enumerate(rows)
    }
    tol = 600 * 1_000_000
    expect = {}
    for i, (u, t, _s) in enumerate(events):
        if t != "purchase":
            continue
        before = [us[i] - us[j] for j, (u2, t2, _) in enumerate(events)
                  if u2 == u and t2 == "click" and us[j] < us[i]]
        after = [us[j] - us[i] for j, (u2, t2, _) in enumerate(events)
                 if u2 == u and t2 == "click" and us[j] > us[i]]
        b = min(before) if before else tol + 1
        a = min(after) if after else tol + 1
        if min(b, a) <= tol:
            expect[i] = (b, "before") if b <= a else (a, "after")
    assert got == expect


@FAST
@given(
    st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=12)
)
def test_q155_quota_allocation_invariants(spark, tmp_path_factory, counts):
    """Largest-remainder allocation: quotas sum exactly to the budget and
    equal the Python Hamilton reference with the (remainder desc, source
    asc) tie-break."""
    from pandaspark.queries import REGISTRY

    docs, sources = [], []
    doc_id = 0
    for s_i, n in enumerate(counts):
        sources.append(f"src{s_i:02d}")
        for _ in range(n):
            docs.append((doc_id, f"text {doc_id}", "en", f"src{s_i:02d}", 10))
            doc_id += 1
    tmp = tmp_path_factory.mktemp("quotaprop")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    got = {
        r.source: r.quota
        for r in REGISTRY["q155_quota_allocation"].fn(spark, str(tmp)).collect()
    }
    budget, total = 1000, sum(counts)
    fl = {s: budget * n // total for s, n in zip(sources, counts)}
    rem = {s: budget * n - fl[s] * total for s, n in zip(sources, counts)}
    leftover = budget - sum(fl.values())
    order = sorted(sources, key=lambda s: (-rem[s], s))
    expect = {s: fl[s] + (1 if order.index(s) < leftover else 0) for s in sources}
    assert got == expect
    assert sum(got.values()) == budget


@FAST
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user
            st.integers(min_value=0, max_value=5),  # day offset
            st.sampled_from(["click", "error"]),
            st.integers(min_value=0, max_value=10**4),  # value cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_q161_drawdown_matches_python_reference(spark, tmp_path_factory, events):
    import datetime as _dt
    from collections import defaultdict

    from pandaspark.queries import REGISTRY

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, base + _dt.timedelta(days=d, seconds=i), u, t, c / 100.0, "{}")
        for i, (u, d, t, c) in enumerate(events)
    ]
    tmp = tmp_path_factory.mktemp("ddprop")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    got = {
        r.user_id: (r.peak_value, r.max_drawdown, r.final_value)
        for r in REGISTRY["q161_max_drawdown"].fn(spark, str(tmp)).collect()
    }
    daily = defaultdict(int)
    for u, d, t, c in events:
        daily[(u, d)] += -c if t == "error" else c
    expect = {}
    for u in {u for u, *_ in events}:
        cum, dd = 0, 0
        peak = None
        for d in sorted(d for (u2, d) in daily if u2 == u):
            cum += daily[(u, d)]
            peak = cum if peak is None else max(peak, cum)
            dd = max(dd, peak - cum)
        expect[u] = (peak / 100.0, dd / 100.0, cum / 100.0)
    assert got == expect


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.text(alphabet="ab 1!.X", min_size=0, max_size=24),
        min_size=1,
        max_size=40,
    )
)
def test_q167_pairing_equals_naive_block_window(spark, tmp_path_factory, texts):
    """The lead()-over-window pairing must equal the naive definition:
    within each 3-char block of normalized text, sorted by (40-char key,
    doc_id), pair each row with the <=5 that follow, keep lev(pfx)<=20."""
    import re

    from pandaspark.queries import REGISTRY

    tmp = tmp_path_factory.mktemp("snprop")
    rows = [(i, t) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp / "documents.parquet"))
    got = {
        (r.doc_a, r.doc_b, r.block, r.lev)
        for r in REGISTRY["q167_sorted_neighborhood"].fn(spark, str(tmp)).collect()
    }
    norm = {
        i: re.sub(r"[^a-z0-9 ]", "", t.lower()).strip() for i, t in rows
    }
    by_block = {}
    for i, n in norm.items():
        by_block.setdefault(n[:3], []).append((n[:40], i))
    expect = set()
    for block, members in by_block.items():
        members.sort()
        for p in range(len(members)):
            for q in range(p + 1, min(p + 6, len(members))):
                a, b = members[p][1], members[q][1]
                d = _lev(norm[a][:80], norm[b][:80])
                if d <= 20:
                    expect.add((a, b, block, d))
    assert got == expect


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["1-URGENT", "2-HIGH"]),
            st.integers(min_value=0, max_value=20),  # day offset (gaps ok)
            st.integers(min_value=1, max_value=10**7),  # cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_q180_rolling_median_matches_python_reference(spark, tmp_path_factory, orders):
    import datetime as _dt
    from collections import defaultdict

    from pandaspark.queries import REGISTRY

    base = _dt.date(2024, 1, 1)
    rows = [
        (i, p, base + _dt.timedelta(days=d), c / 100.0)
        for i, (p, d, c) in enumerate(orders)
    ]
    tmp = tmp_path_factory.mktemp("rmprop")
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_orderdate date, o_totalprice double"
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))
    got = {
        (r.prio, str(r.d)): (r.n_days, r.med_rev)
        for r in REGISTRY["q180_rolling_median"].fn(spark, str(tmp)).collect()
    }
    daily = defaultdict(int)
    for p, d, c in orders:
        daily[(p, d)] += c
    expect = {}
    for p in {p for p, *_ in orders}:
        days = sorted(d for (p2, d) in daily if p2 == p)
        for ix, d in enumerate(days):
            frame = sorted(daily[(p, d2)] for d2 in days[max(0, ix - 6) : ix + 1])
            n = len(frame)
            med = (
                float(frame[(n - 1) // 2])
                if n % 2 == 1
                else (float(frame[n // 2 - 1]) + float(frame[n // 2])) / 2.0
            )
            expect[(p, str(base + __import__("datetime").timedelta(days=d)))] = (
                n,
                med / 100.0,
            )
    assert got == expect


@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # user
            st.sampled_from(["upsert", "upsert", "upsert", "delete"]),
            st.integers(min_value=0, max_value=10**6),  # value millis
        ),
        min_size=1,
        max_size=50,
    ),
    st.integers(min_value=1, max_value=5),  # number of micro-batch files
)
def test_stream_cdc_apply_equals_replay_for_any_split(
    spark, tmp_path_factory, changes, k
):
    """The q179 machinery generically: ANY split of a ts-ordered change
    feed into k micro-batches (ascending mtimes) must converge to the
    dict-replay state — last change per key wins, delete = absent."""
    import datetime as _dt
    import os

    from pandaspark import streaming as S
    from pandaspark.store import latest_commit_path

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (u, base + _dt.timedelta(minutes=i), op, v / 1000.0)
        for i, (u, op, v) in enumerate(changes)
    ]
    tmp = tmp_path_factory.mktemp("cdcprop")
    feed_dir, store_dir, ckpt = str(tmp / "feed"), str(tmp / "store"), str(tmp / "ckpt")
    os.makedirs(feed_dir)
    # contiguous ts-ordered slices -> per-key order preserved across batches
    cuts = [round(len(rows) * j / k) for j in range(k + 1)]
    schema = "user_id long, ts timestamp, op string, value double"
    nfiles = 0
    for j in range(k):
        part = rows[cuts[j] : cuts[j + 1]]
        if not part:
            continue
        sub = str(tmp / f"stage{j}")
        spark.createDataFrame(part, schema).coalesce(1).write.mode("overwrite").parquet(sub)
        src = next(f for f in os.listdir(sub) if f.startswith("part-"))
        dst = f"{feed_dir}/batch-{j:03d}.parquet"
        os.rename(f"{sub}/{src}", dst)
        os.utime(dst, (1_700_000_000 + 10 * j, 1_700_000_000 + 10 * j))
        nfiles += 1
    feed_schema = spark.read.parquet(feed_dir).schema
    cs = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    q = S.stream_cdc_apply(cs, store_dir, ckpt, key="user_id", ts_col="ts")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.user_id: (str(r.ts), r.value)
        for r in spark.read.parquet(latest_commit_path(spark, store_dir)).collect()
    }
    state = {}
    for u, ts, op, v in rows:
        if op == "delete":
            state.pop(u, None)
            # a tombstone for an absent key stays absent; for a present
            # key it must also survive as absent even if re-deleted
        else:
            state[u] = (str(ts), v)
    assert got == state


# --- tranche 14: probabilistic-structure invariants --------------------------

from .conftest import SF_DIR  # noqa: E402


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # user_id (small → collisions)
            st.sampled_from(["view", "click", "error"]),
        ),
        min_size=1,
        max_size=300,
    )
)
def test_q181_cms_one_sided_error(spark, tmp_path_factory, events):
    """The Count-Min guarantee, on arbitrary event streams: the sketch
    NEVER undercounts (min over d buckets >= true count), and the exact
    side of the report is the true counter."""
    from collections import Counter

    from pandaspark.queries import REGISTRY

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=i), u, t, 1.0, "{}")
        for i, (u, t) in enumerate(events)
    ]
    tmp = tmp_path_factory.mktemp("cmsprop")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    got = REGISTRY["q181_cms_heavy_hitters"].fn(spark, str(tmp)).collect()
    true = Counter(u for u, _ in events)
    assert got, "report empty"
    for r in got:
        assert r.exact_cnt == true[r.user_id]
        assert r.cms_est >= r.exact_cnt, "CMS undercounted — impossible"
        assert r.overcount == r.cms_est - r.exact_cnt


def test_q182_hll_exactness_anchors(spark, ddb):
    """Fixture anchors for the portable HLL: the exact-NDV column is truly
    exact (vs DuckDB) and the REGISTERS are right. q182 deliberately emits
    the raw estimator (no linear-counting correction — ln() isn't
    correctly-rounded libm, see the module docstring), so below the
    small-range threshold (ndv <= 2.5m, where raw HLL is known-biased) we
    validate the registers through linear counting computed HERE in
    Python — m*ln(m/zero_registers) must land near the exact NDV; above
    the threshold the raw estimate must sit in a 5-sigma 1.04/sqrt(m)
    band. Wrong register math fails both arms."""
    import math

    from pandaspark.queries import REGISTRY
    from pandaspark.queries.sketches import HLL_M

    got = {r.event_type: r for r in REGISTRY["q182_hll_distinct"].fn(spark, SF_DIR).collect()}
    want = dict(
        ddb.execute(
            "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY event_type"
        ).fetchall()
    )
    assert set(got) == set(want)
    band = 5 * 1.04 / (HLL_M ** 0.5)
    for et, r in got.items():
        assert r.exact_ndv == want[et]
        assert 0 < r.n_regs_hit <= HLL_M
        if r.exact_ndv <= 2.5 * HLL_M:
            assert r.n_regs_hit < HLL_M, "small range but all registers hit"
            lc = HLL_M * math.log(HLL_M / (HLL_M - r.n_regs_hit))
            assert abs(lc / r.exact_ndv - 1) <= 0.35, (et, lc, r.exact_ndv)
        else:
            assert abs(r.rel_err) <= band, (et, r.rel_err)


def test_q183_bloom_has_no_false_negatives(spark):
    """Bloom's hard guarantee: every true member is bloom-positive, i.e.
    bloom_positives minus false positives must equal the member count."""
    from pandaspark.queries import REGISTRY

    [r] = REGISTRY["q183_bloom_audit"].fn(spark, SF_DIR).collect()
    assert r.n_true_members > 0 and r.n_probed > r.n_true_members
    assert r.n_bloom_pos - r.n_false_pos == r.n_true_members
    assert 0.0 <= r.fp_rate < 1.0


def test_q184_pairs_share_a_real_substring(spark, ddb):
    """Soundness of the winnowed-fingerprint join: every reported pair
    actually shares a full 8-char substring of normalized text (a shared
    sha-derived fingerprint implies a shared gram absent collisions; this
    verifies end-to-end against the raw text)."""
    import re

    from pandaspark.queries import REGISTRY
    from pandaspark.queries.pipeline14 import _WG_K, _WG_SHARED_MIN

    pairs = REGISTRY["q184_substring_overlap"].fn(spark, SF_DIR).collect()
    assert pairs, "no overlap pairs at sf0.001 — test would be vacuous"
    texts = {
        i: re.sub(r"\s+", " ", t.lower()).strip()
        for i, t in ddb.execute(
            "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
        ).fetchall()
    }
    for r in pairs:
        a, b = texts[r.doc_a], texts[r.doc_b]
        grams_a = {a[i : i + _WG_K] for i in range(len(a) - _WG_K + 1)}
        grams_b = {b[i : i + _WG_K] for i in range(len(b) - _WG_K + 1)}
        assert r.shared_fp >= _WG_SHARED_MIN
        assert grams_a & grams_b, (r.doc_a, r.doc_b)


def test_q185_folds_partition_bag_groups(spark, ddb):
    """Leakage safety: the folds partition both documents AND bag groups —
    summing per-fold group counts must equal the corpus-wide distinct-bag
    count (a bag straddling two folds would be counted twice)."""
    from pandaspark.queries import REGISTRY

    rows = REGISTRY["q185_leakage_safe_split"].fn(spark, SF_DIR).collect()
    (n_docs, n_bags) = ddb.execute(
        """
SELECT count(*), count(DISTINCT sha256(array_to_string(list_sort(list_distinct(
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))), ' ')))
FROM documents WHERE text IS NOT NULL
"""
    ).fetchone()
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.n_groups for r in rows) == n_bags
    assert {r.fold for r in rows} <= set(range(5))


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=8)),  # id (dups + nulls)
            st.one_of(st.none(), st.floats(min_value=-50, max_value=50, allow_nan=False)),
            st.one_of(st.none(), st.sampled_from(["O", "F", "P", "X", "zz"])),
        ),
        min_size=1,
        max_size=120,
    )
)
def test_expectations_counts_match_python_recount(spark, rows):
    """The compiled single-pass suite must count violations exactly as a
    row-by-row Python recount does, for every check kind, on arbitrary
    data including nulls and duplicate keys."""
    from pandaspark.expectations import Check, compile_suite

    df = spark.createDataFrame(rows, "id long, val double, status string")
    checks = [
        Check("pk", "id", "unique"),
        Check("id_present", "id", "not_null"),
        Check("val_nonneg", "val", "non_negative"),
        Check("val_range", "val", "in_range", lo=-10.0, hi=10.0),
        Check("status_domain", "status", "accepted_values", values=("O", "F", "P")),
    ]
    got = {r.check_name: r.n_violations for r in compile_suite(df, checks).collect()}
    ids = [r[0] for r in rows]
    nn = [i for i in ids if i is not None]
    want = {
        "pk": (len(nn) - len(set(nn))) + (len(ids) - len(nn)),
        "id_present": sum(1 for i in ids if i is None),
        "val_nonneg": sum(1 for r in rows if r[1] is not None and r[1] < 0),
        "val_range": sum(1 for r in rows if r[1] is not None and not (-10.0 <= r[1] <= 10.0)),
        "status_domain": sum(1 for r in rows if r[2] is not None and r[2] not in ("O", "F", "P")),
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=400)
)
def test_q187_cms_f2_never_undershoots(spark, tmp_path_factory, keys):
    """The CMS inner-product estimate of the self-join size is a one-sided
    OVERestimate (collision cross-terms only add), and the exact side is
    the true second frequency moment — on arbitrary key streams."""
    from collections import Counter

    from pandaspark.queries import REGISTRY

    tmp = tmp_path_factory.mktemp("cmsf2")
    spark.createDataFrame([(k,) for k in keys], "l_partkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp / "lineitem.parquet"))
    [r] = REGISTRY["q187_cms_join_size"].fn(spark, str(tmp)).collect()
    true_f2 = sum(c * c for c in Counter(keys).values())
    assert r.exact_f2 == true_f2
    assert r.cms_f2 >= true_f2, "CMS F2 undershot — impossible"
    assert r.overshoot == r.cms_f2 - r.exact_f2


# --- tranche 15: lakehouse/optimizer primitives -------------------------------


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["web", "books", "code", "wiki"]),  # source
            st.sampled_from(["en", "de", "fr"]),                # lang
            st.integers(min_value=1, max_value=30_000),         # n_chars
        ),
        min_size=1,
        max_size=60,
    )
)
def test_q188_bins_cover_exactly_and_fill(spark, tmp_path_factory, docs):
    """The compaction plan is a partition of the manifest: bin totals sum
    to the corpus total, file counts sum to the file count, and every bin
    except possibly the last (in fill order) starts below one target of
    cumulative slack (sorted-fill invariant: a file opens bin b only when
    the exclusive prefix sum has crossed b*target)."""
    from pandaspark.queries import REGISTRY
    from pandaspark.queries.pipeline15 import _BIN_TARGET

    tmp = tmp_path_factory.mktemp("binsprop")
    rows = [(i, "t", lang, src, n) for i, (src, lang, n) in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    got = REGISTRY["q188_compaction_bins"].fn(spark, str(tmp)).collect()

    from collections import defaultdict

    files = defaultdict(lambda: [0, 0])
    for src, lang, n in docs:
        files[(src, lang)][0] += n
        files[(src, lang)][1] += 1
    total_bytes = sum(v[0] for v in files.values())
    assert sum(r.bin_bytes for r in got) == total_bytes
    assert sum(r.n_files for r in got) == len(files)
    assert sum(r.n_docs for r in got) == len(docs)
    # python replay of the sorted fill must give identical bin ids
    order = sorted(files.items(), key=lambda kv: (-kv[1][0], kv[0]))
    cum, want_bins = 0, defaultdict(int)
    for (_, _), (b, _) in order:
        want_bins[cum // _BIN_TARGET] += 1
        cum += b
    assert {r.bin_id: r.n_files for r in got} == dict(want_bins)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.integers(min_value=0, max_value=25), min_size=1, max_size=150),
    st.lists(st.integers(min_value=0, max_value=25), min_size=1, max_size=150),
)
def test_q189_join_size_never_undershoots(spark, tmp_path_factory, users, custs):
    """CMS inner product >= true join size on arbitrary key streams, and
    the exact audit column is the true join cardinality."""
    import datetime as dt
    from collections import Counter

    from pandaspark.queries import REGISTRY

    tmp = tmp_path_factory.mktemp("jsizeprop")
    base = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, base, u, "view", 1.0, "{}") for i, u in enumerate(users)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    spark.createDataFrame(
        [(i, c, "O", 1.0, dt.date(2024, 1, 1), "1-URGENT") for i, c in enumerate(custs)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))
    [r] = REGISTRY["q189_join_size_estimate"].fn(spark, str(tmp)).collect()
    cu, cc = Counter(users), Counter(custs)
    true = sum(cu[k] * cc[k] for k in cu.keys() & cc.keys())
    assert r.exact_join_size == (true if true else None) or r.exact_join_size == true
    if true:
        assert r.cms_join_size >= true, "CMS inner product undershot — impossible"
        assert r.overshoot == r.cms_join_size - r.exact_join_size


def test_q190_advisor_picks_smaller_intermediate(spark, ddb):
    """On the fixture the FK estimates are exact and rank 1 must be the
    order whose estimated first intermediate is smaller."""
    from pandaspark.queries import REGISTRY

    rows = {r.join_order: r for r in REGISTRY["q190_join_order_advisor"].fn(spark, SF_DIR).collect()}
    assert len(rows) == 2
    best = min(rows.values(), key=lambda r: (r.est_cost, r.join_order))
    assert best.cost_rank == 1
    # FK joins: true intermediates from DuckDB
    t_oc = ddb.execute(
        "SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey=c.c_custkey"
        " WHERE o.o_orderstatus='F'"
    ).fetchone()[0]
    assert rows["(customer x orders) x lineitem"].true_intermediate == t_oc


def test_q191_checksum_is_order_and_layout_independent(spark, tmp_path_factory):
    """The Merkle root must be identical for the same logical rows under a
    different row order and partition count, and must CHANGE when one row
    value changes."""
    from pandaspark.queries import REGISTRY

    fn = REGISTRY["q191_merkle_checksum"].fn
    [base] = fn(spark, SF_DIR).collect()

    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    tmp1 = tmp_path_factory.mktemp("mk_shuffled")
    src.orderBy(F.desc("o_totalprice")).repartition(7).write.mode("overwrite").parquet(
        str(tmp1 / "orders.parquet")
    )
    [shuf] = fn(spark, str(tmp1)).collect()
    assert shuf.root_hash == base.root_hash
    assert shuf.n_rows == base.n_rows

    tmp2 = tmp_path_factory.mktemp("mk_mutated")
    src.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == src.agg(F.min("o_orderkey")).collect()[0][0],
               F.col("o_totalprice") + 0.01).otherwise(F.col("o_totalprice")),
    ).write.mode("overwrite").parquet(str(tmp2 / "orders.parquet"))
    [mut] = fn(spark, str(tmp2)).collect()
    assert mut.root_hash != base.root_hash


# --- tranche 16: profiling / splits / IVM -------------------------------------


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3", "s4"]),    # source (determinant)
            st.sampled_from(["en", "de", "fr", None]),    # lang (dependent; NULL skipped by ndv)
        ),
        min_size=1,
        max_size=200,
    )
)
def test_q192_repair_rows_match_python_recount(spark, tmp_path_factory, pairs):
    """The minimal-repair metric: for FD source->lang, repair_rows must
    equal sum over determinant groups of (group size - majority count),
    and holds iff no group has two distinct dependents."""
    from collections import Counter, defaultdict

    from pandaspark.queries import REGISTRY

    tmp = tmp_path_factory.mktemp("fdprop")
    rows = [(i, "t", lang, src, 1) for i, (src, lang) in enumerate(pairs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    # the other FD candidates need orders/lineitem — give them tiny clean tables
    spark.createDataFrame(
        [(1, 1, "O", 1.0, None, "1-U")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))
    spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.mode("overwrite").parquet(str(tmp / "lineitem.parquet"))

    got = {r.fd: r for r in REGISTRY["q192_fd_discovery"].fn(spark, str(tmp)).collect()}
    r = got["documents.source->lang"]
    by_src = defaultdict(list)
    for src, lang in pairs:
        by_src[src].append(lang)
    # ndv skips NULL dependents (count(DISTINCT y) semantics, both engines);
    # repair/majority counts still see the NULL pair-group as a group
    want_repair = sum(len(v) - Counter(v).most_common(1)[0][1] for v in by_src.values())
    want_violating = sum(
        1 for v in by_src.values() if len({x for x in v if x is not None}) > 1
    )
    assert r.n_groups == len(by_src)
    assert r.violating_groups == want_violating
    assert r.repair_rows == want_repair
    assert r.holds == (want_violating == 0)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.integers(min_value=0, max_value=29 * 24 * 3600 - 1),  # offsets in Jan 2024
        min_size=1,
        max_size=300,
    )
)
def test_q193_purge_and_masses_match_recount(spark, tmp_path_factory, offsets):
    """Per fold: train/purged/test masses match a Python recount against
    the fold cutoffs, and whenever both sides are non-empty the realized
    gap is >= the embargo (purge correctness)."""
    from pandaspark.queries import REGISTRY
    from pandaspark.queries.pipeline16 import _CUTOFFS, _EMBARGO_S

    base = dt.datetime(2024, 1, 1)
    stamps = [base + dt.timedelta(seconds=o) for o in offsets]
    tmp = tmp_path_factory.mktemp("purgeprop")
    spark.createDataFrame(
        [(i, t, 1, "view", 1.0, "{}") for i, t in enumerate(stamps)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    got = {r.fold: r for r in REGISTRY["q193_purged_split"].fn(spark, str(tmp)).collect()}
    cuts = [dt.datetime.fromisoformat(c) for c in _CUTOFFS]
    for i, cut in enumerate(cuts):
        lo = cut - dt.timedelta(seconds=_EMBARGO_S)
        hi = cuts[i + 1] if i + 1 < len(cuts) else None
        train = [t for t in stamps if t < lo]
        purged = [t for t in stamps if lo <= t < cut]
        test = [t for t in stamps if t >= cut and (hi is None or t < hi)]
        r = got[i]
        assert (r.n_train, r.n_purged, r.n_test) == (len(train), len(purged), len(test))
        if train and test:
            assert r.gap_seconds >= _EMBARGO_S
            assert r.embargo_ok


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),       # orderkey
            st.integers(min_value=1, max_value=7),        # linenumber
            st.integers(min_value=1, max_value=50),       # quantity
            st.sampled_from(["A", "N", "R"]),             # returnflag
        ),
        min_size=1,
        max_size=250,
    )
)
def test_q194_merge_always_equals_recompute(spark, tmp_path_factory, items):
    """The IVM monoid law on arbitrary inputs: merged base+delta partials
    must equal the full recompute for every group — `consistent` is True
    on every output row."""
    from pandaspark.queries import REGISTRY

    tmp = tmp_path_factory.mktemp("ivmprop")
    rows = [
        (ok, 1, 1, ln, float(q), q * 10.0, 0.0, 0.0, rf, "O", None)
        for (ok, ln, q, rf) in items
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.mode("overwrite").parquet(str(tmp / "lineitem.parquet"))
    out = REGISTRY["q194_ivm_merge"].fn(spark, str(tmp)).collect()
    assert out
    assert all(r.consistent for r in out)
    assert sum(r.n_full for r in out) == len(rows)


# --- tranche 17: distributed retrieval / storage advisor ----------------------


def _sha_int_py(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:12], 16)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=60),   # orderkey
            st.integers(min_value=1, max_value=7),    # linenumber
            st.integers(min_value=1, max_value=30),   # partkey
            st.integers(min_value=1, max_value=50),   # quantity
        ),
        min_size=1,
        max_size=300,
    )
)
def test_q195_certificate_implies_exactness(spark, tmp_path_factory, items):
    """The TA guarantee on arbitrary inputs: the exact top-k matches a
    Python recount, and whenever the certificate holds the pruned answer
    agrees with the exact one on every rank."""
    from collections import Counter

    from pandaspark.queries import REGISTRY

    tmp = tmp_path_factory.mktemp("taprop")
    rows = [
        (ok, pk, 1, ln, float(q), 1.0, 0.0, 0.0, "N", "O", None)
        for (ok, ln, pk, q) in items
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.mode("overwrite").parquet(str(tmp / "lineitem.parquet"))
    got = sorted(
        REGISTRY["q195_threshold_topk"].fn(spark, str(tmp)).collect(),
        key=lambda r: r.rank,
    )
    from pandaspark.queries.pipeline17 import _TA_K

    totals = Counter()
    for ok, ln, pk, q in items:
        totals[pk] += q
    # The frame must cover every exact top-k rank — fewer-than-K distinct
    # keys must yield that many rows (with NULL certificate), never zero.
    assert len(got) == min(_TA_K, len(totals))
    want = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[: len(got)]
    assert [(r.l_partkey, r.exact_total) for r in got] == want
    if len(totals) < _TA_K:
        assert all(r.certificate_ok is None for r in got)
    if got and got[0].certificate_ok:
        assert all(r.pruned_agrees for r in got)


def test_q196_registers_and_exact_match_python(spark, ddb):
    """The sliding HLL on the fixture: exact sliding NDV matches a Python
    recount, and the estimate matches the Python-evaluated dyadic-exact
    register formula bit-for-bit."""
    from collections import defaultdict

    from pandaspark.queries import REGISTRY
    from pandaspark.queries.pipeline17 import _WIN_DAYS
    from pandaspark.queries.sketches import HLL_M

    got = {r.day: r for r in REGISTRY["q196_hll_sliding_distinct"].fn(spark, SF_DIR).collect()}
    rows = ddb.execute("SELECT CAST(ts AS DATE), user_id FROM events").fetchall()
    by_day = defaultdict(set)
    for day, uid in rows:
        by_day[day].add(uid)
    days = sorted(by_day)
    assert set(got) == set(days)
    for d in days:
        window = [x for x in days if 0 <= (d - x).days <= _WIN_DAYS - 1]
        exact = len(set().union(*(by_day[x] for x in window)))
        assert got[d].exact_ndv == exact
        regs = {}
        for x in window:
            for uid in by_day[x]:
                hv = _sha_int_py(str(uid))
                idx, suf = hv % HLL_M, hv // HLL_M
                rho = 43 if suf == 0 else 43 - suf.bit_length()
                regs[idx] = max(regs.get(idx, 0), rho)
        est = 0.709 * float(HLL_M * HLL_M) / (
            sum(1.0 / (1 << m) for m in regs.values()) + (HLL_M - len(regs)) * 1.0
        )
        assert got[d].hll_est == est
        assert got[d].n_regs_hit == len(regs)


def test_q197_byte_pricing_matches_python(spark, ddb):
    """The encoding advisor's byte arithmetic against a Python recount on
    the fixture (documents.lang: tiny dict, should recommend dict)."""
    from pandaspark.queries import REGISTRY

    got = {r.column_name: r for r in REGISTRY["q197_encoding_advisor"].fn(spark, SF_DIR).collect()}
    vals = [v for (v,) in ddb.execute("SELECT lang FROM documents WHERE lang IS NOT NULL").fetchall()]
    plain = sum(len(v) for v in vals)
    dict_bytes = sum(len(v) for v in set(vals)) + len(vals) * 1  # ndv <= 256
    r = got["documents.lang"]
    assert (r.n_values, r.ndv, r.plain_bytes, r.dict_bytes) == (
        len(vals), len(set(vals)), plain, dict_bytes,
    )
    assert r.use_dict == (dict_bytes < plain)


# --- tranche 18: ANN tuning / snapshot diff / pipeline funnel ------------------


def test_q198_recall_monotone_in_nprobe(spark):
    """More probes can only help: recall and scanned mass must be
    non-decreasing in nprobe, with sane bounds."""
    from pandaspark.queries import REGISTRY

    rows = sorted(
        REGISTRY["q198_ivf_multiprobe_curve"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert b.recall >= a.recall
        assert b.n_scanned >= a.n_scanned
    for r in rows:
        assert 0.0 <= r.recall <= 1.0
        assert 0.0 < r.scanned_frac <= 1.0
        assert r.n_exact == rows[0].n_exact  # fixed by construction (Q*K)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=1, max_value=4000), min_size=1, max_size=250, unique=True))
def test_q199_diff_classes_match_python(spark, tmp_path_factory, keys):
    """The diff classification on arbitrary key sets: class counts must
    match a Python replay of the sha-keyed v2 derivation."""
    from pandaspark.queries import REGISTRY
    from pandaspark.queries.pipeline18 import _DIFF_MOD

    tmp = tmp_path_factory.mktemp("diffprop")
    spark.createDataFrame(
        [(k, 1, "O", float(k), None, "1-U") for k in keys],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))
    got = {r.change: r for r in REGISTRY["q199_snapshot_diff"].fn(spark, str(tmp)).collect()}
    h = {k: _sha_int_py(str(k)) % _DIFF_MOD for k in keys}
    removed = sum(1 for k in keys if h[k] == 0)
    changed = sum(1 for k in keys if h[k] == 1)
    added = sum(1 for k in keys if h[k] == 2)
    unchanged = len(keys) - removed - changed
    want = {"removed": removed, "changed": changed, "added": added, "unchanged": unchanged}
    assert {c: r.n_rows for c, r in got.items()} == {c: n for c, n in want.items() if n}
    if changed:
        assert got["changed"].net_cents_delta == changed * 100


def test_q200_funnel_is_monotone_and_recounts(spark, ddb):
    """Stages 1-4 are filters (non-increasing survivor counts); the final
    chunk mass matches a DuckDB recount of ceil(n_tok/stride) over the
    deduped survivors."""
    from pandaspark.queries import REGISTRY

    rows = {r.stage: r for r in REGISTRY["q200_pipeline_funnel"].fn(spark, SF_DIR).collect()}
    assert (
        rows["raw"].n_units
        >= rows["length_gate"].n_units
        >= rows["lang_gate"].n_units
        >= rows["bag_dedup"].n_units
        > 0
    )
    assert rows["chunks"].n_units >= rows["bag_dedup"].n_units


@FAST
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),      # low-cardinality key -> ties
            st.integers(min_value=-(10**9), max_value=10**9),  # exact value
        ),
        min_size=1,
        max_size=60,
    )
)
def test_ranked_running_total_matches_python_reference(spark, rows):
    """operators.ranked_running_total == the sequential Python scan for ANY
    input, including heavy key ties (the two-phase layout must produce a
    dense 1..n ranking and an exact prefix sum over the same total order;
    tie groups may be ordered arbitrarily WITHIN the group, so the
    reference compares per-position multisets of (key, value) and the
    exact cumsum at each group boundary, plus per-row invariants)."""
    from pandaspark.operators import ranked_running_total

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "i long, k long, v long"
    )
    # a unique tiebreak column (i) makes the total order deterministic and
    # the comparison exact row-for-row
    got = sorted(
        (r.rk, r.k, r.i, r.v, r.rt)
        for r in ranked_running_total(
            df, ["k", "i"], F.col("v"), total_alias="rt"
        ).collect()
    )
    want = []
    acc = 0
    for rk, (i, k, v) in enumerate(
        sorted(((i, k, v) for i, (k, v) in enumerate(rows)), key=lambda t: (t[1], t[0])),
        start=1,
    ):
        acc += v
        want.append((rk, k, i, v, acc))
    assert got == sorted(want)
