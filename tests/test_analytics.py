"""Differential + semantic tests for the analytics heads
(plans/analytics): each Spark plan runs against its DuckDB oracle at
sf0.001 through ``grading.compare``, the sweep's own comparison, plus
hand-computed and simulated semantics for every head."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processo_etl_spark import catalog, grading, plans
from processo_etl_spark.plans import analytics

QUERIES = plans.all_queries()
ORACLES = plans.all_oracles()
NAMES = sorted(
    n for n, fn in QUERIES.items() if fn.__module__ == analytics.__name__
)

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", NAMES)
def test_head_matches_oracle(spark, name):
    sdf = QUERIES[name](spark, SF)
    srows = sdf.collect()
    con = grading.oracle_connection(SF)
    assert grading.compare(name, sdf, srows, ORACLES[name], con) == []
    assert len(srows) > 0


def test_sample_per_key_semantics(spark):
    """Exactly min(k, group size) rows per key, ranks 1..k, and the
    selection is stable under repartitioning (determinism)."""
    fn = analytics.sample_per_key_deterministic
    rows = fn(spark, SF).collect()
    per_key: dict = {}
    for r in rows:
        per_key.setdefault(r["user_id"], []).append(r)
    ev = catalog.load(spark, SF, "events")
    sizes = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for uid, picked in per_key.items():
        assert len(picked) == min(5, sizes[uid])
        assert sorted(p["rk"] for p in picked) == list(
            range(1, len(picked) + 1)
        )
    # determinism: same sample from a differently-partitioned input
    again = {
        (r["user_id"], r["event_id"])
        for r in fn(spark, SF).sparkSession.createDataFrame(
            fn(spark, SF).collect()
        ).collect()
    }
    assert again == {(r["user_id"], r["event_id"]) for r in rows}


def test_embargo_split_semantics(spark):
    """Counts partition every event, the gap is genuinely quarantined,
    and leakage_safe holds by construction of the boundaries."""
    fn = analytics.split_temporal_embargo
    out = fn(spark, SF).collect()
    ev_n = catalog.load(spark, SF, "events").count()
    assert sum(r["n_train"] + r["n_test"] + r["n_embargoed"] for r in out) == ev_n
    assert all(r["leakage_safe"] for r in out)
    assert any(r["n_embargoed"] > 0 for r in out)  # the gap is non-trivial


def test_equidepth_bins_semantics(spark):
    """NTILE contract: 8 bins, sizes differ by at most 1, boundaries
    are monotone non-overlapping in sort order."""
    fn = analytics.feature_binning_equidepth
    rows = sorted(fn(spark, SF).collect(), key=lambda r: r["bin"])
    assert [r["bin"] for r in rows] == list(range(1, 9))
    sizes = [r["n"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sum(sizes) == catalog.load(spark, SF, "lineitem").count()
    for a, b in zip(rows, rows[1:]):
        assert a["lo"] <= a["hi"] <= b["lo"] <= b["hi"]


def test_rolling_zscore_hand_computed(spark):
    """Baseline-frame (6 PRECEDING..1 PRECEDING) z-score semantics:
    short baselines (n<4) never flag; a flat baseline flags ANY
    deviation (zero-variance rule) and never flags its own repeats;
    on a noisy baseline [10,12,8,11,9,10] (centi S=6000, Q=6.1e6,
    var_n2 = 6*6.1e6-36e6 = 600000, sigma = sqrt(600000)/6 = 129.1c)
    a 15.00 probe has z = 500/129.1 = 3.87 -> flagged, an 11.50 probe
    has z = 150/129.1 = 1.16 -> not flagged."""
    import datetime

    base = datetime.datetime(2024, 1, 1)

    def mk(uid, vals):
        return [
            (uid, base + datetime.timedelta(minutes=i), i, v)
            for i, v in enumerate(vals)
        ]

    rows = (
        mk("u1", [10.0] * 7 + [1000.0])                      # flat + spike
        + mk("u2", [10.0, 12.0, 8.0, 11.0, 9.0, 10.0, 15.0])  # noisy + 3.87σ
        + mk("u3", [10.0, 12.0, 8.0, 11.0, 9.0, 10.0, 11.5])  # noisy + 1.16σ
    )
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp_ntz, event_id long, value double"
    )
    orig = analytics.t
    analytics.t = lambda spark, sf_dir, name: df  # inject the fixture table
    try:
        out = {
            (r["user_id"], r["event_id"]): r
            for r in analytics.anomaly_rolling_zscore(spark, "x").collect()
        }
    finally:
        analytics.t = orig
    # u1: events 0-3 short baseline, 4-6 flat baseline + equal value
    assert not any(out[("u1", i)]["is_outlier"] for i in range(7))
    spike = out[("u1", 7)]
    assert spike["n_base"] == 6 and spike["s_centi"] == 6000
    assert spike["q_centi"] == 6_000_000
    assert spike["is_outlier"] is True     # zero-variance baseline, dev != 0
    hot = out[("u2", 6)]
    assert (hot["n_base"], hot["s_centi"], hot["q_centi"]) == (6, 6000, 6_100_000)
    assert hot["is_outlier"] is True       # z = 3.87
    mild = out[("u3", 6)]
    assert mild["is_outlier"] is False     # z = 1.16
    # probes with short baselines never flag even with huge deviation
    assert out[("u2", 3)]["n_base"] == 3 and not out[("u2", 3)]["is_outlier"]


def _inject(df, fn, spark):
    """Run a head against an in-memory fixture table."""
    orig = analytics.t
    analytics.t = lambda spark, sf_dir, name: df
    try:
        return fn(spark, "x").collect()
    finally:
        analytics.t = orig


def test_markov_transitions_hand_computed(spark):
    """u1 path A,B,A,B,B and u2 path B,A: pairs never cross users,
    counts and per-src totals match the hand-derived chain
    (A->B:2, B->A:2, B->B:1; totals A:2, B:3)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("u1", base + datetime.timedelta(minutes=i), i, t)
        for i, t in enumerate(["A", "B", "A", "B", "B"])
    ] + [
        ("u2", base + datetime.timedelta(minutes=i), 10 + i, t)
        for i, t in enumerate(["B", "A"])
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp_ntz, event_id long, event_type string"
    )
    out = {
        (r["src_type"], r["dst_type"]): (r["n_pairs"], r["n_src_out"])
        for r in _inject(df, analytics.markov_event_transitions, spark)
    }
    assert out == {
        ("A", "B"): (2, 2),
        ("B", "A"): (2, 3),
        ("B", "B"): (1, 3),
    }


def test_cusum_hand_computed(spark):
    """Closed form P - min(0, runmin P) equals the textbook recurrence
    S_i = max(0, S_{i-1} + x_i - k) on a path that exercises the zero
    floor, the reset decay, and the alert threshold: values
    [10,10,300,10,300,300] with k=60.00 give centi CUSUM
    [0,0,24000,19000,43000,67000] -> alerts at events 2,4,5 only."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    vals = [10.0, 10.0, 300.0, 10.0, 300.0, 300.0]
    rows = [
        ("u1", base + datetime.timedelta(minutes=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp_ntz, event_id long, value double"
    )
    out = {
        r["event_id"]: r
        for r in _inject(df, analytics.changepoint_cusum_alerts, spark)
    }
    # textbook recurrence, replayed in integers
    s, expect = 0, {}
    for i, v in enumerate(vals):
        s = max(0, s + round(v * 100) - 6000)
        expect[i] = s
    assert {i: r["s_cusum"] for i, r in out.items()} == expect
    assert expect == {0: 0, 1: 0, 2: 24000, 3: 19000, 4: 43000, 5: 67000}
    assert {i for i, r in out.items() if r["is_alert"]} == {2, 4, 5}


def test_debounce_hand_computed(spark):
    """Lag-relative 24h debounce: gaps compare to the immediate
    predecessor of the same (user, type); the first row per key always
    survives; an exactly-24h gap is kept (>=); other types and users
    never interact."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    h = datetime.timedelta(hours=1)
    rows = [
        # type A: 0h, 23h (dropped), 50h (kept: 27h from the 23h row,
        # even though that row itself was dropped - lag-relative)
        ("u1", base, 0, "A"),
        ("u1", base + 23 * h, 1, "A"),
        ("u1", base + 50 * h, 2, "A"),
        # type B interleaved: both kept (30h gap)
        ("u1", base, 3, "B"),
        ("u1", base + 30 * h, 4, "B"),
        # type C: exactly 24h -> kept
        ("u1", base, 5, "C"),
        ("u1", base + 24 * h, 6, "C"),
        # u2 type A within 24h of u1's rows: its own first row, kept
        ("u2", base + 23 * h, 7, "A"),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp_ntz, event_id long, event_type string"
    )
    out = {
        r["event_id"]: r["gap_us"]
        for r in _inject(df, analytics.events_debounce_lag, spark)
    }
    assert set(out) == {0, 2, 3, 4, 5, 6, 7}
    assert out[0] is None and out[3] is None and out[5] is None
    assert out[7] is None                      # u2's first row of type A
    assert out[2] == 27 * 3_600_000_000        # vs the DROPPED 23h row
    assert out[6] == 86_400_000_000            # boundary: exactly 24h kept


def test_weighted_median_hand_computed(spark):
    """Lower weighted median (smallest v with 2*cumw >= total): flag A
    with (10,w1),(20,w2),(30,w1) -> 20; flag B hits the exact-half
    boundary (10,w1),(20,w1) -> 10; groups never mix despite the
    shared global cumsum."""

    rows = [
        ("A", 10.0, 1.0), ("A", 20.0, 2.0), ("A", 30.0, 1.0),
        ("B", 10.0, 1.0), ("B", 20.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double, l_quantity double"
    )
    out = {
        r["l_returnflag"]: (r["w_total"], r["weighted_median_price"])
        for r in _inject(df, analytics.weighted_median_price_by_flag, spark)
    }
    assert out == {"A": (4, 20.0), "B": (2, 10.0)}


def test_benford_hand_computed(spark):
    """String-derived leading digit survives the power-of-ten
    boundaries float log10 misclassifies (1000.00 -> 1, 999.99 -> 9,
    0.01 -> 1), absent digits yield no row, and with all nine digits
    present the exact residuals sum to zero (the literals sum to 1e6)."""

    rows = [(1000.00,), (999.99,), (0.01,), (914.44,), (55.00,)]
    df = spark.createDataFrame(rows, "l_extendedprice double")
    out = {
        r["digit"]: r for r in _inject(df, analytics.benford_digit_audit, spark)
    }
    assert set(out) == {1, 5, 9}
    assert out[1]["n_obs"] == 2 and out[9]["n_obs"] == 2
    assert out[5]["n_obs"] == 1 and out[5]["n_total"] == 5
    assert out[1]["exp_micros"] == 301030
    assert out[1]["delta_micros"] == 1_000_000 * 2 - 301030 * 5
    # certificate on real data: all nine digits occur at sf0.001, so
    # the exact residuals cancel and the total matches the fact count
    full = analytics.benford_digit_audit(spark, SF).collect()
    assert len(full) == 9
    assert sum(r["delta_micros"] for r in full) == 0
    assert full[0]["n_total"] == catalog.load(spark, SF, "lineitem").count()


def test_cusum_closed_form_property():
    """No Spark: the windowable closed form P - min(0, runmin P) equals
    the sequential recurrence max(0, S + x - k) on arbitrary integer
    paths (hypothesis), including all-negative and all-positive drifts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    K = 6000

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-50_000, max_value=50_000),
            min_size=0,
            max_size=60,
        )
    )
    def check(xs):
        s, p, mn = 0, 0, 0
        for x in xs:
            s = max(0, s + x - K)        # textbook recurrence
            p += x - K                   # drifted prefix sum
            mn = min(mn, p)              # running min incl. P_0 = 0
            assert s == p - mn

    check()


def test_fixture_simulations(spark):
    """Pure-Python replay of the whole sf0.001 fixture for the three
    sequential heads: the Spark output must equal a row-by-row
    simulation (ordering (ts, event_id), centi rounding via
    round-half-even on near-integers is exact here)."""
    import datetime

    ev = sorted(
        catalog.load(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    # --- CUSUM simulation
    sim, state = {}, {}
    for r in ev:
        x = round(r["value"] * 100)
        s = max(0, state.get(r["user_id"], 0) + x - 6000)
        state[r["user_id"]] = s
        sim[r["event_id"]] = s
    got = {
        r["event_id"]: (r["s_cusum"], r["is_alert"])
        for r in analytics.changepoint_cusum_alerts(spark, SF).collect()
    }
    assert len(got) == len(sim)
    for eid, s in sim.items():
        assert got[eid] == (s, s > 20000)
    # --- debounce simulation (lag-relative, per (user, type))
    last: dict = {}
    kept = {}
    utc = datetime.timezone.utc
    for r in ev:
        key = (r["user_id"], r["event_type"])
        # pin the naive fixture timestamp to UTC: a bare .timestamp()
        # applies the HOST zone, and across a DST boundary the local
        # offsets of two events differ, so gaps would not cancel
        us = int(r["ts"].replace(tzinfo=utc).timestamp() * 1_000_000)
        prev = last.get(key)
        if prev is None or us - prev >= 86_400_000_000:
            kept[r["event_id"]] = None if prev is None else us - prev
        last[key] = us
    got_d = {
        r["event_id"]: r["gap_us"]
        for r in analytics.events_debounce_lag(spark, SF).collect()
    }
    assert got_d == kept
    # --- markov simulation
    from collections import Counter

    pairs: Counter = Counter()
    prev_by_user: dict = {}
    for r in ev:
        p = prev_by_user.get(r["user_id"])
        if p is not None:
            pairs[(p, r["event_type"])] += 1
        prev_by_user[r["user_id"]] = r["event_type"]
    src_tot: Counter = Counter()
    for (s_, _), n in pairs.items():
        src_tot[s_] += n
    got_m = {
        (r["src_type"], r["dst_type"]): (r["n_pairs"], r["n_src_out"])
        for r in analytics.markov_event_transitions(spark, SF).collect()
    }
    assert got_m == {
        k: (n, src_tot[k[0]]) for k, n in pairs.items()
    }


def test_weighted_median_fixture_simulation(spark):
    """Pure-Python replay of the weighted median over the real
    lineitem fixture: sort each flag's (price, qty) pairs and take the
    smallest price whose doubled cumulative weight reaches the total."""

    rows = (
        catalog.load(spark, SF, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    acc: dict = {}
    for r in rows:
        acc.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], int(r["l_quantity"]))
        )
    expect = {}
    for flag, pairs in acc.items():
        pairs.sort()
        total = sum(w for _, w in pairs)
        cum = 0
        for price, w in pairs:
            cum += w
            if 2 * cum >= total:
                expect[flag] = (total, price)
                break
    got = {
        r["l_returnflag"]: (r["w_total"], r["weighted_median_price"])
        for r in analytics.weighted_median_price_by_flag(spark, SF).collect()
    }
    assert got == expect


def test_triangle_estimate_sampled_hand_computed(spark):
    """K8 clique fixture (one order, parts 1..8): the deterministic
    hash sample is replayed in pure Python (hashlib.md5, same
    'tri:a:b' key), the sampled-subgraph triangle count is enumerated
    by brute force, and the estimate is exactly 64x that count."""
    import hashlib
    import itertools

    def md5_long(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    parts = list(range(1, 9))
    rows = [(100, p) for p in parts]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = _inject(df, analytics.graph_triangle_estimate_sampled, spark)[0]

    edges = [(a, b) for a, b in itertools.combinations(parts, 2)]
    sampled = {
        (a, b) for a, b in edges if md5_long(f"tri:{a}:{b}") % 4 == 0
    }
    tri = sum(
        1
        for x, y, z in itertools.combinations(parts, 3)
        if {(x, y), (x, z), (y, z)} <= sampled
    )
    assert out["n_edges_total"] == len(edges) == 28
    assert out["n_edges_sampled"] == len(sampled)
    assert out["tri_sampled"] == tri
    assert out["est_triangles"] == 64 * tri
