"""Window-function plans — ranking, lag/lead, running frames, ntile.

The reference uses exactly one window shape (W1 surrogate keys); Spark
gives the whole family for free (SURVEY §2.6 "absent").  These are the
BI-layer analytics the reference's dashboard implies (SURVEY §3 entry
point 3), expressed over the driver tables with DuckDB oracles.

All windows partition by a key — no global single-partition windows in
this module; every plan is one shuffle on the partition key.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import dec, t


@register(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
      CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(12,2)))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS DOUBLE) AS running_total
    FROM orders
    """,
)
def window_running_revenue(spark, sf_dir):
    """Running revenue per customer — cumulative frame, one shuffle on
    o_custkey; partial ordering stays inside each partition."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


@register(
    "window_order_gap_days",
    oracle="""
    SELECT o_custkey, o_orderkey,
      CAST(date_diff('day',
            CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS DATE),
            CAST(o_orderdate AS DATE)) AS INT) AS gap_days
    FROM orders
    """,
)
def window_order_gap_days(spark, sf_dir):
    """Days since the customer's previous order — lag + datediff (null
    for each customer's first order, matching SQL LAG semantics)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag(F.col("o_orderdate")).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date"))
        .cast("int")
        .alias("gap_days"),
    )


@register(
    "window_top3_orders_per_cust",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
      CAST(row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
    FROM orders QUALIFY rk <= 3
    """,
)
def window_top3_orders_per_cust(spark, sf_dir):
    """Top-3 orders per customer — per-group ranking; AQE plans the
    rank filter before any downstream join would see the full set."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@register(
    "window_moving_avg_value",
    oracle="""
    SELECT user_id, event_id,
      CAST(AVG(CAST(value AS DOUBLE))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mv3
    FROM events
    """,
)
def window_moving_avg_value(spark, sf_dir):
    """3-row moving average per user — explicit ROWS frame spec."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.avg(F.col("value").cast("double")).over(w).alias("mv3"),
    )


@register(
    "window_revenue_deciles",
    oracle="""
    WITH d AS (
      SELECT CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INT)
             AS decile, o_totalprice
      FROM orders)
    SELECT decile, count(*) AS n,
      CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM d GROUP BY decile
    """,
)
def window_revenue_deciles(spark, sf_dir):
    """Revenue by order-value decile — DEFAULT scale-safe plan.

    Exact NTILE(10) semantics via the two-phase distributed rank
    (operators/ranking.py): range-repartition → local rank → broadcast
    prefix-sum offsets.  No unpartitioned window, no single-partition
    exchange — the ``WindowExec: No Partition Defined`` scale-killer
    is gone while the oracle (true SQL NTILE) stays hash-green.  The
    global-ntile twin below is the exact-parity reference variant.
    """
    from processo_etl_spark.operators.ranking import distributed_ntile

    o = t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    tiled = distributed_ntile(
        o, ["o_totalprice", "o_orderkey"], k=10, out_col="decile"
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
    )


@register(
    "window_revenue_deciles_global",
    oracle="""
    WITH d AS (
      SELECT CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INT)
             AS decile, o_totalprice
      FROM orders)
    SELECT decile, count(*) AS n,
      CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM d GROUP BY decile
    """,
)
def window_revenue_deciles_global(spark, sf_dir):
    """Exact-parity variant: literal ntile over an unpartitioned window.

    Single-partition exchange BY CONSTRUCTION — kept only as the
    semantic reference twin for window_revenue_deciles (and on the
    plan-audit's documented allow-list); never the default path."""
    o = t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            F.ntile(10).over(w).cast("int").alias("decile"),
            "o_totalprice",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
        )
    )


@register(
    "window_trailing_24h_value",
    oracle="""
    SELECT user_id, ts, event_id,
           CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(12,2))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS trailing_24h
    FROM events WHERE user_id < 10
    """,
)
def window_trailing_24h_value(spark, sf_dir):
    """Time-RANGE frame (not ROWS): trailing 24-hour value sum per user.

    Spark's rangeBetween is numeric, so the frame runs over epoch
    MICROseconds — full timestamp precision, so frame membership at the
    24h boundary matches the oracle's INTERVAL frame even for sub-second
    timestamps (whole-second unix_timestamp would diverge
    there).  Ties in ts share the frame, unlike a rows frame.  One
    shuffle on user_id; frame state is bounded by events-per-24h, not
    history length."""
    from processo_etl_spark.plans.common import dec, t

    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = (
        Window.partitionBy("user_id")
        # ts is TIMESTAMP_NTZ; the session timezone is pinned UTC, so the
        # cast to TIMESTAMP is value-preserving and unix_micros is exact.
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-24 * 3600 * 1_000_000, 0)
    )
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(dec("value")).over(w).cast("double").alias("trailing_24h"),
    )


@register(
    "top3_orders_per_cust_scalable",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
      CAST(row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
    FROM orders QUALIFY rk <= 3
    """,
)
def top3_orders_per_cust_scalable(spark, sf_dir):
    """Bounded-state twin of window_top3_orders_per_cust
    (operators/ranking.grouped_topk): salted two-stage top-k whose
    per-task sort state is |group|/64 under any skew — SAME oracle as
    the plain window, so the equivalence is hash-graded, not just
    unit-tested."""
    from processo_etl_spark.operators import ranking

    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return ranking.grouped_topk(
        o,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        salt_key="o_orderkey",
    )
