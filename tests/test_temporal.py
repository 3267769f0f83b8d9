"""Unit tests for operators/temporal.py: as-of join and bucketed range join."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from processo_etl_spark.operators.temporal import asof_join, range_join_bucketed


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            (1, "A", _ts("2024-01-01T10:00:05"), 100.0),
            (2, "A", _ts("2024-01-01T10:00:10"), 101.0),
            (3, "B", _ts("2024-01-01T10:00:07"), 50.0),
            (4, "C", _ts("2024-01-01T10:00:07"), 9.0),  # no quotes for C
        ],
        "trade_id int, sym string, ts timestamp, price double",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01T10:00:03"), 99.5),
            ("A", _ts("2024-01-01T10:00:10"), 100.9),  # tie with trade 2
            ("A", _ts("2024-01-01T10:00:12"), 101.5),
            ("B", _ts("2024-01-01T10:00:08"), 49.9),  # after trade 3
        ],
        "sym string, ts timestamp, quote double",
    )
    return trades, quotes


def test_asof_backward_with_ties_and_missing_keys(spark):
    trades, quotes = _trades_quotes(spark)
    out = asof_join(trades, quotes, on=["sym"], ts="ts", payload=["quote"])
    got = {r["trade_id"]: r["quote_right"] for r in out.collect()}
    assert got == {
        1: 99.5,  # latest quote <= 10:00:05
        2: 100.9,  # equal timestamps match (inclusive, right-before-left)
        3: None,  # only quote for B is later
        4: None,  # key absent on right side entirely
    }
    assert out.count() == trades.count()  # LEFT semantics: every trade kept


def test_asof_forward(spark):
    trades, quotes = _trades_quotes(spark)
    out = asof_join(
        trades, quotes, on=["sym"], ts="ts", payload=["quote"], direction="forward"
    )
    got = {r["trade_id"]: r["quote_right"] for r in out.collect()}
    assert got == {1: 100.9, 2: 100.9, 3: 49.9, 4: None}


def test_asof_null_payload_not_skipped(spark):
    """A right row whose payload is NULL must still win (struct carry):
    naive last(payload, ignorenulls) would fall through to an older row."""
    left = spark.createDataFrame(
        [(1, "k", _ts("2024-01-01T12:00:00"))], "id int, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("k", _ts("2024-01-01T10:00:00"), 5.0), ("k", _ts("2024-01-01T11:00:00"), None)],
        "k string, ts timestamp, v double",
    )
    out = asof_join(left, right, on=["k"], ts="ts", payload=["v"]).collect()[0]
    assert out["v_right"] is None
    assert out["ts_right"] == _ts("2024-01-01T11:00:00")


def test_range_join_bucketed_matches_naive(spark):
    points = spark.range(0, 500).select(
        (F.col("id") % 5).cast("string").alias("k"),
        (F.col("id") * 7 % 1000).alias("x"),
        F.col("id").alias("pid"),
    )
    intervals = spark.range(0, 60).select(
        (F.col("id") % 5).cast("string").alias("k"),
        (F.col("id") * 31 % 900).alias("lo"),
        (F.col("id") * 31 % 900 + F.col("id") % 7 * 40).alias("hi"),
        F.col("id").alias("iid"),
    )
    fast = range_join_bucketed(
        points, intervals, on=["k"], point=F.col("x"),
        start=F.col("lo"), end=F.col("hi"), bucket_width=50,
    )
    naive = points.join(intervals, on="k").filter(
        (F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi"))
    )
    fast_pairs = {(r["pid"], r["iid"]) for r in fast.select("pid", "iid").collect()}
    naive_pairs = {(r["pid"], r["iid"]) for r in naive.select("pid", "iid").collect()}
    assert fast_pairs == naive_pairs
    assert len(fast_pairs) > 0
    # exactly-once: no dedup needed because each pair meets in one bucket
    assert fast.count() == len(fast_pairs)


def test_range_join_boundary_inclusive(spark):
    points = spark.createDataFrame([("k", 100), ("k", 200), ("k", 99), ("k", 201)],
                                   "k string, x long")
    intervals = spark.createDataFrame([("k", 100, 200)], "k string, lo long, hi long")
    out = range_join_bucketed(
        points, intervals, on=["k"], point=F.col("x"),
        start=F.col("lo"), end=F.col("hi"), bucket_width=30,
    )
    assert sorted(r["x"] for r in out.collect()) == [100, 200]


def test_ewma_per_key_matches_pandas_ewm(spark):
    import pandas as pd

    from processo_etl_spark.operators import temporal

    rows = [
        ("u1", 1, 10.0), ("u1", 2, 20.0), ("u1", 3, 5.0), ("u1", 4, 40.0),
        ("u2", 1, 7.0), ("u2", 2, None), ("u2", 3, 9.0),
    ]
    df = spark.createDataFrame(rows, "k string, seq long, x double")
    got = {
        (r["k"], r["seq"]): r["ewma"]
        for r in temporal.ewma_per_key(df, "k", ["seq"], "x", alpha=0.25).collect()
    }
    for k in ("u1", "u2"):
        s = pd.Series(
            [x for kk, _, x in rows if kk == k and x is not None],
            index=[q for kk, q, x in rows if kk == k and x is not None],
        )
        ref = s.ewm(alpha=0.25, adjust=False).mean()
        for seq, v in ref.items():
            assert got[(k, seq)] == v, (k, seq, got[(k, seq)], v)
    # null rows are dropped, not zero-filled
    assert ("u2", 2) not in got


def test_ewma_fixed_point_matches_integer_reference(spark):
    """The fixed-point path replays a pure-Python scaled-long recurrence
    exactly (E₁ = V₁, Eᵢ = (3·Eᵢ₋₁ + Vᵢ) >> 2 for α=0.25, s=8) and
    stays within the documented quantization bias of the float EWMA."""
    from processo_etl_spark.operators import temporal

    rows = [
        ("u1", 1, 32.78), ("u1", 2, 15.53), ("u1", 3, 23.6778125),
        ("u1", 4, 0.0), ("u1", 5, 560.21),
        ("u2", 1, 7.07), ("u2", 2, None), ("u2", 3, 9.99),
    ]
    df = spark.createDataFrame(rows, "k string, seq long, x double")
    got = {
        (r["k"], r["seq"]): r["ewma"]
        for r in temporal.ewma_per_key(
            df, "k", ["seq"], "x", alpha=0.25, fixed_point_scale=8
        ).collect()
    }
    for k in ("u1", "u2"):
        e = None
        f = None
        for kk, seq, x in rows:
            if kk != k or x is None:
                continue
            # half-away-from-zero (what Spark F.round / DuckDB ROUND do
            # for these non-negative inputs) — Python round() is
            # half-EVEN and diverges exactly on .5 ties
            v = math.floor(x * 10**8 + 0.5)
            e = v if e is None else (3 * e + v) >> 2
            f = x if f is None else 0.75 * f + 0.25 * x
            assert got[(k, seq)] == e / 10**8, (k, seq)
            assert abs(got[(k, seq)] - f) < 4e-8 + 1e-9 * abs(f), (k, seq)
    assert ("u2", 2) not in got


def test_ewma_fixed_point_rejects_non_binary_alpha():
    import pytest

    from processo_etl_spark.operators import temporal

    with pytest.raises(ValueError, match="binary"):
        temporal.ewma_per_key(
            None, "k", ["seq"], "x", alpha=0.3, fixed_point_scale=8
        )


def test_ewma_chunked_rejects_bad_params():
    """chunk <= 0 would produce negative chunk ids that silently drop
    rows at the chunk-start join — reject up front."""
    import pytest

    from processo_etl_spark.operators import temporal

    with pytest.raises(ValueError, match="chunk"):
        temporal.ewma_per_key_chunked(None, "k", ["seq"], "x", chunk=0)
    with pytest.raises(ValueError, match="chunk"):
        temporal.ewma_per_key_chunked(None, "k", ["seq"], "x", chunk=-5)
    with pytest.raises(ValueError, match="alpha"):
        temporal.ewma_per_key_chunked(None, "k", ["seq"], "x", alpha=1.0)


def test_table_diff_three_change_types_and_nulls(spark):
    from processo_etl_spark.operators import cdc

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (4, "d", None)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (3, None, 3.0), (5, "e", 5.0)],
        "k long, s string, v double",
    )
    out = {r["k"]: r for r in cdc.table_diff(old, new, ["k"]).collect()}
    assert set(out) == {2, 4, 5}  # 1 and 3 unchanged (3 via null-safe eq)
    assert out[2]["change_type"] == "update" and out[2]["new_s"] == "B"
    assert out[4]["change_type"] == "delete" and out[4]["new_s"] is None
    assert out[5]["change_type"] == "insert" and out[5]["old_s"] is None


def test_event_sequence_match_order_and_exclusion(spark):
    from processo_etl_spark.operators import temporal

    rows = [
        # u1: C C P → match (1 non-overlapping)
        ("u1", 1, "click"), ("u1", 2, "click"), ("u1", 3, "purchase"),
        # u2: C E C P → error between the clicks breaks it
        ("u2", 1, "click"), ("u2", 2, "error"), ("u2", 3, "click"),
        ("u2", 4, "purchase"),
        # u3: C C P C C P → two disjoint matches
        ("u3", 1, "click"), ("u3", 2, "click"), ("u3", 3, "purchase"),
        ("u3", 4, "click"), ("u3", 5, "click"), ("u3", 6, "purchase"),
        # u4: P C C → order matters, no match
        ("u4", 1, "purchase"), ("u4", 2, "click"), ("u4", 3, "click"),
    ]
    df = spark.createDataFrame(rows, "u string, seq long, event_type string")
    out = {
        r["u"]: r
        for r in temporal.event_sequence_match(
            df, "u", ["seq"],
            F.upper(F.substring("event_type", 1, 1)),
            "C[VCS]*C[VCS]*P",
        ).collect()
    }
    assert out["u1"]["matched"] and out["u1"]["n_matches"] == 1
    assert not out["u2"]["matched"]
    assert out["u2"]["journey"] == "CECP"
    assert out["u3"]["n_matches"] == 2
    assert not out["u4"]["matched"] and out["u4"]["journey"] == "PCC"


def test_interval_union_length_hand_computed(spark):
    from processo_etl_spark.operators import temporal

    rows = [
        # u1: [0,10] ∪ [5,15] ∪ [20,30] → two islands, 15 + 10 = 25
        ("u1", 0, 10), ("u1", 5, 15), ("u1", 20, 30),
        # u2: nested [0,100] ⊇ [10,20] → one island of 100
        ("u2", 0, 100), ("u2", 10, 20),
        # u3: touching endpoints merge (s == prev end): [0,5][5,9] → 9
        ("u3", 0, 5), ("u3", 5, 9),
        # u4: degenerate zero-length interval counts an island of 0
        ("u4", 7, 7),
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    out = {
        r["k"]: r
        for r in temporal.interval_union_length(
            df, "k", F.col("s"), F.col("e")
        ).collect()
    }
    assert out["u1"]["n_islands"] == 2 and out["u1"]["covered_us"] == 25
    assert out["u2"]["n_islands"] == 1 and out["u2"]["covered_us"] == 100
    assert out["u3"]["n_islands"] == 1 and out["u3"]["covered_us"] == 9
    assert out["u4"]["n_islands"] == 1 and out["u4"]["covered_us"] == 0
    assert out["u1"]["n_intervals"] == 3


def test_peak_concurrency_half_open_semantics(spark):
    from processo_etl_spark.operators import temporal

    rows = [
        # u1: [0,10] [5,15] [8,12] → 3 overlap in [8,10)
        ("u1", 0, 10), ("u1", 5, 15), ("u1", 8, 12),
        # u2: back-to-back [0,5][5,9]: half-open → peak 1, not 2
        ("u2", 0, 5), ("u2", 5, 9),
        # u3: single interval
        ("u3", 3, 4),
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    out = {
        r["k"]: r
        for r in temporal.peak_concurrency(
            df, "k", F.col("s"), F.col("e")
        ).collect()
    }
    assert out["u1"]["peak"] == 3 and out["u1"]["n_intervals"] == 3
    assert out["u2"]["peak"] == 1
    assert out["u3"]["peak"] == 1


def test_ewma_chunked_certificate_head(spark):
    """The driver head ewma_user_value_chunked: one certificate row
    whose integers match the DuckDB closed form (Σ n, #keys, Σ⌈n/16⌉)
    and whose booleans pin the chunked path inside the property-tested
    deviation bounds against BOTH referee implementations."""
    import duckdb

    from processo_etl_spark import plans

    sf_dir = "/root/testdata/sf0.001"
    row = plans.all_queries()["ewma_user_value_chunked"](spark, sf_dir).first()
    exp = duckdb.sql(
        f"""
        SELECT CAST(SUM(n) AS BIGINT), CAST(COUNT(*) AS BIGINT),
               CAST(SUM((n + 15) // 16) AS BIGINT)
        FROM (SELECT COUNT(*) AS n
              FROM '{sf_dir}/events.parquet'
              WHERE value IS NOT NULL GROUP BY user_id)
        """
    ).fetchone()
    assert (row["n_rows"], row["n_keys"], row["n_chunks"]) == exp
    assert row["within_float_bound"] is True
    assert row["within_fixed_bound"] is True
