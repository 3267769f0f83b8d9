"""Aggregation plans: the flagship pricing summary plus the notebook's
EDA/data-quality workload (SURVEY.md §2.5 A1–A10) and OLAP extensions.

Numeric convention (plans/__init__): exact DECIMAL arithmetic internally
for order-insensitive sums, but every final output column is DOUBLE
(``dsum``/``avg_exact``/``.cast("double")``, mirrored by ``CAST(... AS
DOUBLE)`` in the oracles) — DecimalType never leaves a registry query
(``grading.output_violations`` rejects one).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import avg_exact, dec, dsum, t
from processo_etl_spark.quality import audit


# --- flagship: scan → filter → derive → agg → sort (M1 slice of SURVEY §7) ---
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2)) * (1 - CAST(ROUND(l_discount, 2) AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2)) * (1 - CAST(ROUND(l_discount, 2) AS DECIMAL(12,2))) * (1 + CAST(ROUND(l_tax, 2) AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """Flagship (TPC-H Q1 shape): filter → group → 6 aggregates → sort.

    Covers S-scan + F-filter + A-agg + O-sort in one plan; the whole
    pipeline is one WholeStageCodegen span over a pruned parquet scan
    with the shipdate predicate pushed down.  Sums are exact decimal
    internally then DOUBLE out; averages are exact-sum-double ÷ count
    (``avg_exact``), because the driver hashes decimals differently
    from DuckDB's.
    """
    li = t(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    charge = disc_price * (F.lit(1) + dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            avg_exact("l_quantity").alias("avg_qty"),
            avg_exact("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- A1: exact median ---------------------------------------------------------
@register(
    "median_quantity",
    oracle="""
    SELECT
      CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS DOUBLE) AS med_qty,
      CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS DOUBLE) AS med_price
    FROM lineitem WHERE l_quantity > 0
    """,
)
def median_quantity(spark, sf_dir):
    """A1 (dag.py:79,122-123): exact median over a positive-filtered column.

    Exact ``percentile`` (interpolating, pandas-parity) — the engine's
    imputation path (cleaning.exact_median) uses the same expression.
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    return li.select(
        F.expr("CAST(percentile(l_quantity, 0.5) AS DOUBLE)").alias("med_qty"),
        F.expr("CAST(percentile(l_extendedprice, 0.5) AS DOUBLE)").alias("med_price"),
    )


# --- A2: single-pass null audit -------------------------------------------------
@register(
    "null_audit",
    oracle="""
    SELECT
      COUNT(*) - COUNT(event_id) AS event_id,
      COUNT(*) - COUNT(ts) AS ts,
      COUNT(*) - COUNT(user_id) AS user_id,
      COUNT(*) - COUNT(event_type) AS event_type,
      COUNT(*) - COUNT(value) AS value,
      COUNT(*) - COUNT(props) AS props
    FROM events
    """,
)
def null_audit(spark, sf_dir):
    """A2 (Análise.ipynb:1089): df.isna().sum() — all columns, ONE pass."""
    return audit.null_counts(t(spark, sf_dir, "events"))


# --- A3: value_counts ------------------------------------------------------------
@register(
    "value_counts_event_type",
    oracle="""
    SELECT event_type, count(*) AS count FROM events
    GROUP BY event_type ORDER BY count DESC, event_type
    """,
)
def value_counts_event_type(spark, sf_dir):
    """A3 (Análise.ipynb:1095+): frequency table, deterministic tie order."""
    from processo_etl_spark.operators.relational import value_counts

    return value_counts(t(spark, sf_dir, "events"), "event_type")


# --- A5: distinct-key invariant ----------------------------------------------------
@register(
    "distinct_year_count",
    oracle="SELECT count(DISTINCT year(o_orderdate)) AS n_years FROM orders",
)
def distinct_year_count(spark, sf_dir):
    """A5 (dag.py:69-73): single-year invariant via countDistinct."""
    return t(spark, sf_dir, "orders").select(
        F.countDistinct(F.year("o_orderdate")).alias("n_years")
    )


# --- A6: fixed-range histogram ------------------------------------------------------
@register(
    "histogram_hours",
    oracle="""
    SELECT LEAST(CAST(FLOOR((hour(ts) - 0) * 24 / 24) AS INT), 23) AS bin,
           count(*) AS count
    FROM events GROUP BY 1 ORDER BY bin
    """,
)
def histogram_hours(spark, sf_dir):
    """A6 (Análise.ipynb:1113-1115): 24-bin hourly histogram."""
    ev = t(spark, sf_dir, "events").select(F.hour("ts").alias("h"))
    return audit.histogram_fixed(ev, "h", 0, 24, 24)


# --- A7: auto-ranged histogram (two-pass) ---------------------------------------------
@register(
    "histogram_auto_price",
    oracle="""
    WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
               FROM lineitem)
    SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) * 10 / (hi - lo)) AS INT), 9) AS bin,
           count(*) AS count
    FROM lineitem, b GROUP BY 1 ORDER BY bin
    """,
)
def histogram_auto_price(spark, sf_dir):
    """A7 (Análise.ipynb:1162-1213): min/max pass then bucket pass."""
    return audit.histogram_auto(t(spark, sf_dir, "lineitem"), "l_extendedprice", 10)


# --- A8: quartiles + IQR outliers ------------------------------------------------------
@register(
    "quartiles_quantity",
    oracle="""
    SELECT CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS DOUBLE) AS q1,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS DOUBLE) AS med,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS DOUBLE) AS q3
    FROM lineitem
    """,
)
def quartiles_quantity(spark, sf_dir):
    """A8 (Análise.ipynb:1168-1219): exact boxplot quartiles."""
    return audit.quartiles(t(spark, sf_dir, "lineitem"), "l_quantity")


@register(
    "iqr_outlier_count",
    oracle="""
    WITH q AS (
      SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS q1,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS q3
      FROM lineitem)
    SELECT count(*) AS n_outliers
    FROM lineitem, q
    WHERE l_extendedprice < q1 - 1.5 * (q3 - q1)
       OR l_extendedprice > q3 + 1.5 * (q3 - q1)
    """,
)
def iqr_outlier_count(spark, sf_dir):
    """A8 (boxplot whiskers): count outside 1.5·IQR — two-pass."""
    out = audit.iqr_outliers(t(spark, sf_dir, "lineitem"), "l_extendedprice")
    return out.select(F.count(F.lit(1)).alias("n_outliers"))


# --- A9/F9: universal quantifier ---------------------------------------------------------
@register(
    "all_valid_flags",
    oracle="""
    SELECT bool_and(l_quantity > 0) AS qty_positive,
           bool_and(l_discount BETWEEN 0 AND 1) AS discount_unit,
           bool_and(l_extendedprice >= 0) AS price_nonneg
    FROM lineitem
    """,
)
def all_valid_flags(spark, sf_dir):
    """A9 (Análise.ipynb:1131): .all() ≡ bool_and aggregate."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        F.bool_and(F.col("l_quantity") > 0).alias("qty_positive"),
        F.bool_and(F.col("l_discount").between(0, 1)).alias("discount_unit"),
        F.bool_and(F.col("l_extendedprice") >= 0).alias("price_nonneg"),
    )


# --- A10/F6: violation probe must be empty --------------------------------------------------
@register(
    "constraint_violation_count",
    oracle="""
    SELECT count(*) AS n_violations FROM lineitem
    WHERE l_extendedprice < 0 OR l_quantity < 0 OR l_tax < 0
    """,
)
def constraint_violation_count(spark, sf_dir):
    """A10 (Análise.ipynb:1142,1152): emptiness test on a violation probe."""
    probe = audit.constraint_probe(
        t(spark, sf_dir, "lineitem"),
        "l_extendedprice < 0 OR l_quantity < 0 OR l_tax < 0",
    )
    return probe.select(F.count(F.lit(1)).alias("n_violations"))


# --- extensions: rollup / cube / approx distinct (SURVEY §2.5 'absent but free') -------------
@register(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark, sf_dir):
    """Hierarchical subtotals — `rollup` (absent in reference, free in Spark).

    Pre-aggregated to the finest grouping set FIRST (guide §2.3
    "aggregate before you shuffle"): Spark plans rollup as
    Expand(3 grouping sets)→HashAggregate, tripling the partial-agg
    input at fact-table width; aggregating by (flag, status) first and
    rolling the ~6-row result up re-aggregates EXACT decimal partials
    (sum-of-sums and sum-of-counts are lossless), so the output is
    value-identical while the Expand runs over 6 rows, not 3×|lineitem|.
    """
    li = t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_extendedprice")).alias("_rev"),
        F.count(F.lit(1)).alias("_n"),
    )
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("_rev").cast("double").alias("revenue"),
        F.sum("_n").alias("n"),
    )


@register(
    "cube_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_counts(spark, sf_dir):
    """All grouping-set combinations — `cube`.  Pre-aggregated to the
    finest grouping set first (same lossless sum-of-counts
    re-aggregation as rollup_revenue) so the 4-way Expand runs over the
    ~dozen (status, priority) partials, not the fact rows."""
    base = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return base.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum("_n").alias("n")
    )


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_revenue(spark, sf_dir):
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    per-status, per-priority, and grand-total revenue in one pass.
    Exact decimal sum internally, DOUBLE out (decimal outputs
    hash-mismatch)."""
    view = internal("orders_gs")
    t(spark, sf_dir, "orders").createOrReplaceTempView(view)
    # Pre-aggregated to (status, priority) first: the grouping-set
    # Expand then runs over the handful of exact-decimal partials
    # instead of 3x the fact rows — sum-of-sums is lossless in decimal.
    return spark.sql(
        f"""
        WITH base AS (
          SELECT o_orderstatus, o_orderpriority,
                 SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(12,2))) AS _rev
          FROM {view} GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(_rev) AS DOUBLE) AS revenue
        FROM base
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "profile_lineitem",
    oracle="""
    SELECT 'l_quantity' AS col, count(*) AS n,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           CAST(min(l_quantity) AS DOUBLE) AS min_v, CAST(max(l_quantity) AS DOUBLE) AS max_v,
           CAST(SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))) AS DOUBLE) AS sum_v
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(*),
           CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT l_discount) AS BIGINT),
           CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE),
           CAST(SUM(CAST(ROUND(l_discount, 2) AS DECIMAL(12,2))) AS DOUBLE)
    FROM lineitem
    """,
)
def profile_lineitem(spark, sf_dir):
    """One-job table profile (the notebook's EDA loop as an API): count /
    nulls / distinct / min / max / sum per numeric column, unpivoted to
    one row per column.  Single scan, all aggregates in one pass."""
    li = t(spark, sf_dir, "lineitem")

    def prof(col: str):
        return F.struct(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(col).isNull().cast("long")).alias("n_null"),
            F.count_distinct(F.col(col)).cast("long").alias("n_distinct"),
            F.min(F.col(col)).cast("double").alias("min_v"),
            F.max(F.col(col)).cast("double").alias("max_v"),
            F.sum(dec(col)).cast("double").alias("sum_v"),
        )

    packed = li.agg(
        F.array(prof("l_quantity"), prof("l_discount")).alias("profiles")
    )
    return packed.select(F.explode("profiles").alias("p")).select("p.*")


@register(
    "approx_distinct_users",
    oracle="""
    SELECT count(DISTINCT user_id) AS exact_users, true AS within_tolerance
    FROM events
    """,
)
def approx_distinct_users(spark, sf_dir):
    """HLL++ approx_count_distinct — the 100 TB path for A5-style checks —
    as a self-validating tolerance check.

    DuckDB's approx sketch differs bit-for-bit, so the query emits the
    EXACT distinct count (hash-comparable) plus ``within_tolerance`` =
    |approx − exact| ≤ 6%·exact (3σ of the rsd=0.02 HLL++ guarantee);
    the oracle pins both, so the driver grades the sketch's error bound.
    At 100 TB only the single-pass HLL side runs; the exact twin here is
    the certificate for the driver gate.
    """
    ev = t(spark, sf_dir, "events")
    return ev.select(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    ).select(
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.06 * F.col("exact_users")
        ).alias("within_tolerance"),
    )


@register(
    "quartiles_quantity_approx",
    oracle="""
    SELECT CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS DOUBLE) AS q1,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS DOUBLE) AS med,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS DOUBLE) AS q3,
           true AS within_tolerance
    FROM lineitem
    """,
)
def quartiles_quantity_approx(spark, sf_dir):
    """A8's 100 TB path: single-pass approx_percentile (Greenwald-Khanna
    sketch, mergeable across partitions — no global sort, no second
    pass) — as a self-validating tolerance check.

    Emits the EXACT interpolating quartiles (hash-comparable with the
    DuckDB oracle) plus ``within_tolerance``: each GK estimate within
    one quantity unit of exact (accuracy=10⁴ ⇒ rank error ≤ n/10⁴; the
    integer-valued 1..50 quantity domain makes that ≤ 1 unit).
    """
    li = t(spark, sf_dir, "lineitem")
    approx = F.approx_percentile(
        "l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), 10_000
    )
    exact = F.expr(
        "percentile(l_quantity, array(0.25D, 0.5D, 0.75D))"
    )
    return li.select(
        approx.alias("a"), exact.alias("e")
    ).select(
        F.col("e")[0].cast("double").alias("q1"),
        F.col("e")[1].cast("double").alias("med"),
        F.col("e")[2].cast("double").alias("q3"),
        (
            (F.abs(F.col("a")[0] - F.col("e")[0]) <= 1.0)
            & (F.abs(F.col("a")[1] - F.col("e")[1]) <= 1.0)
            & (F.abs(F.col("a")[2] - F.col("e")[2]) <= 1.0)
        ).alias("within_tolerance"),
    )


@register(
    "grouped_quartiles_returnflag",
    oracle="""
    SELECT l_returnflag,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS DOUBLE) AS q1,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS DOUBLE) AS med,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS DOUBLE) AS q3
    FROM lineitem GROUP BY l_returnflag
    """,
)
def grouped_quartiles_returnflag(spark, sf_dir):
    """Per-group exact quartiles: `percentile` as a grouped aggregate —
    one shuffle on the group key, each group's sort local to its
    partition.  The 100 TB path swaps in `approx_percentile` (mergeable
    sketch), exactly as for the global quartiles."""
    li = t(spark, sf_dir, "lineitem")
    pct = F.percentile(F.col("l_quantity").cast("double"), F.array(
        F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return li.groupBy("l_returnflag").agg(
        F.element_at(pct, 1).alias("q1"),
        F.element_at(pct, 2).alias("med"),
        F.element_at(pct, 3).alias("q3"),
    )


@register(
    "corr_matrix_lineitem",
    oracle="""
    WITH s AS (
      SELECT count(*) AS n,
        SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))) AS sx,
        SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS sy,
        SUM(CAST(ROUND(l_discount, 2) AS DECIMAL(12,2))) AS sz,
        SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2)) * CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))) AS sxx,
        SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2)) * CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS syy,
        SUM(CAST(ROUND(l_discount, 2) AS DECIMAL(12,2)) * CAST(ROUND(l_discount, 2) AS DECIMAL(12,2))) AS szz,
        SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2)) * CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS sxy,
        SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2)) * CAST(ROUND(l_discount, 2) AS DECIMAL(12,2))) AS sxz
      FROM lineitem)
    SELECT
      ROUND(CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / ( sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) )
        AS DOUBLE), 12) AS corr_qty_price,
      ROUND(CAST((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
        / ( sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)) )
        AS DOUBLE), 12) AS corr_qty_discount
    FROM s
    """,
)
def corr_matrix_lineitem(spark, sf_dir):
    """Pearson correlations from EXACT decimal moment sums (one pass).

    Built-in `corr` accumulates doubles whose value depends on partition
    order — not reproducible, and not oracle-matchable.  Exact decimal
    sums (n, Σx, Σy, Σxy, …) are order-insensitive; the final formula is
    then rounded to 12 decimals on both engines: once a scaled moment
    exceeds 2^53, DuckDB's decimal→double cast (int128→double, then
    divide by 10^scale — two roundings) can land 1 ULP away from
    Spark's correctly-rounded BigDecimal conversion (first seen at
    sf0.1; sf0.01 moments stay under 2^53).  12 decimals keeps ~9
    significant digits of a |corr|≈1e-3 value — far above the ULP noise,
    never near a rounding tie.  Same single-shuffle shape as any global
    aggregate, and the moment sums are map-side combined.
    """
    li = t(spark, sf_dir, "lineitem")
    x, y, z = dec("l_quantity"), dec("l_extendedprice"), dec("l_discount")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"), F.sum(z).alias("sz"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(z * z).alias("szz"),
        F.sum(x * y).alias("sxy"), F.sum(x * z).alias("sxz"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def corr_of(sab, sa, sb, saa, sbb):
        num = d("n") * d(sab) - d(sa) * d(sb)
        den = F.sqrt(d("n") * d(saa) - d(sa) * d(sa)) * F.sqrt(
            d("n") * d(sbb) - d(sb) * d(sb)
        )
        return (num / den).cast("double")

    return s.select(
        F.round(corr_of("sxy", "sx", "sy", "sxx", "syy"), 12).alias("corr_qty_price"),
        F.round(corr_of("sxz", "sx", "sz", "sxx", "szz"), 12).alias("corr_qty_discount"),
    )


@register(
    "dq_report_lineitem",
    oracle="""
    SELECT count(*) AS n_rows,
      CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS l_quantity_not_null,
      CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
               THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_between,
      CAST(SUM(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R')
               THEN 1 ELSE 0 END) AS BIGINT) AS l_returnflag_in_set,
      count(l_orderkey) - count(DISTINCT l_orderkey) AS l_orderkey_unique
    FROM lineitem
    """,
)
def dq_report_lineitem(spark, sf_dir):
    """Declarative expectations suite compiled to ONE aggregation pass:
    every rule is a conditional count riding the same scan (100 rules =
    still one shuffle of one row).  l_orderkey_unique is expected
    non-zero — lineitem keys repeat per line — demonstrating the report
    carries counts, not just pass/fail."""
    from processo_etl_spark.quality import expectations as ex

    li = t(spark, sf_dir, "lineitem")
    rules = [
        ex.expect_not_null("l_quantity"),
        ex.expect_between("l_quantity", 1, 50),
        ex.expect_in_set("l_returnflag", ["A", "N", "R"]),
        ex.expect_unique("l_orderkey"),
    ]
    return ex.run(li, rules)


@register(
    "orders_above_avg_price",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)
def orders_above_avg_price(spark, sf_dir):
    """Scalar subquery: Catalyst plans the inner aggregate once and
    broadcasts the scalar into the filter (a ReusedSubquery at scale —
    no per-row re-evaluation)."""
    view = internal("orders_sq")
    t(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(
        f"""SELECT o_orderkey, o_totalprice FROM {view}
           WHERE o_totalprice > (SELECT avg(o_totalprice) FROM {view})"""
    )


@register(
    "customers_with_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def customers_with_urgent_orders(spark, sf_dir):
    """EXISTS subquery → left-semi join: the filter on orders is pushed
    below the semi-join, so only urgent orders' keys shuffle."""
    cv, ov = internal("customer_sq"), internal("orders_sq2")
    t(spark, sf_dir, "customer").createOrReplaceTempView(cv)
    t(spark, sf_dir, "orders").createOrReplaceTempView(ov)
    return spark.sql(
        f"""SELECT c_custkey, c_name FROM {cv} c
           WHERE EXISTS (SELECT 1 FROM {ov} o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')"""
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice, 2) AS DECIMAL(12,2)))
                AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (SELECT 0.2 * avg(CAST(l2.l_quantity AS DOUBLE))
                          FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: CORRELATED scalar subquery (per-part average).

    Catalyst decorrelates it into a per-partkey aggregate joined back —
    one extra pass over (the brand-pruned slice of) lineitem instead of
    a subquery per row; the brand filter broadcasts part and prunes both
    sides before the heavy join.  Exercises scalar-subquery
    decorrelation.
    """
    lv, pv = internal("lineitem_q17"), internal("part_q17")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView(lv)
    t(spark, sf_dir, "part").createOrReplaceTempView(pv)
    return spark.sql(
        f"""
        SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice, 2) AS DECIMAL(12,2)))
                    AS DOUBLE) / 7.0 AS avg_yearly
        FROM {lv} l JOIN {pv} p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity < (SELECT 0.2 * avg(CAST(l2.l_quantity AS DOUBLE))
                              FROM {lv} l2
                              WHERE l2.l_partkey = p.p_partkey)
        """
    )


@register(
    "q16_supplier_cnt_by_type",
    oracle="""
    SELECT p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (1, 2, 3, 4, 5)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY p.p_type, p.p_size
    """,
)
def q16_supplier_cnt_by_type(spark, sf_dir):
    """TPC-H Q16 shape (partsupp → lineitem): distinct-supplier counts
    per part attribute with a NOT IN exclusion subquery.

    NOT IN over a non-null key column plans as a broadcast null-aware
    anti join on the (tiny) excluded-supplier set; the distinct count
    shuffles once on the group key after the anti join prunes.
    """
    lv, pv, sv = (internal(f"{n}_q16") for n in ("lineitem", "part", "supplier"))
    t(spark, sf_dir, "lineitem").createOrReplaceTempView(lv)
    t(spark, sf_dir, "part").createOrReplaceTempView(pv)
    t(spark, sf_dir, "supplier").createOrReplaceTempView(sv)
    return spark.sql(
        f"""
        SELECT p.p_type, p.p_size,
               CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM {lv} l JOIN {pv} p ON p.p_partkey = l.l_partkey
        WHERE p.p_size IN (1, 2, 3, 4, 5)
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM {sv}
                                  WHERE s_acctbal < 0)
        GROUP BY p.p_type, p.p_size
        """
    )


@register(
    "q18_large_quantity_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate,
           CAST(CAST(ROUND(o.o_totalprice, 2) AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(ROUND(l.l_quantity, 2) AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))) > 150)
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q18_large_quantity_orders(spark, sf_dir):
    """TPC-H Q18 shape: IN-subquery over a grouped HAVING, then join back.

    One aggregate builds the qualifying key set (small) → broadcast
    semi-join prunes orders AND lineitem before the final aggregate; the
    big fact shuffles once on l_orderkey and the exchange is reused.
    o_totalprice round-trips through DECIMAL(18,2) then DOUBLE on both
    sides (decimal outputs hash-mismatch: exact decimal internally,
    DOUBLE out)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("tq"))
        .filter(F.col("tq") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey, "left_semi")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("total_qty"))
        .withColumn("o_totalprice", dec("o_totalprice", 18, 2).cast("double"))
        .select("o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@register(
    "quantile_exact_scalable",
    oracle="""
    WITH v AS (
      SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL),
    n AS (SELECT count(*) AS n FROM v),
    s AS (SELECT x, row_number() OVER (ORDER BY x) AS r FROM v),
    qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
    SELECT qs.q,
           greatest(1, CAST(ceil(qs.q * n.n) AS BIGINT)) AS k,
           (SELECT s.x FROM s
            WHERE s.r = greatest(1, CAST(ceil(qs.q * n.n) AS BIGINT))) AS value
    FROM qs, n
    ORDER BY qs.q
    """,
)
def quantile_exact_scalable(spark, sf_dir):
    """EXACT p50/p90/p99 of l_extendedprice via the approx-bracket +
    refine path (operators/ranking.exact_quantiles_twopass) — the 100 TB
    replacement for Spark's exact ``percentile`` (whose aggregation
    buffer collects every value; see functions/cleaning.exact_median's
    documented deviation).  Type-1 semantics (k-th smallest, k =
    ceil(q·n)) return an actual datum, so the sort-free Spark path and
    the sort-based oracle agree bit-for-bit, interpolation-free.  The
    driver holds only the ≤4εn-row bracket histogram."""
    from processo_etl_spark.operators import ranking

    li = t(spark, sf_dir, "lineitem")
    rows = ranking.exact_quantiles_twopass(
        li, "l_extendedprice", [0.5, 0.9, 0.99]
    )
    return spark.createDataFrame(rows, "q double, k bigint, value double")


@register(
    "grouped_quantile_exact_scalable",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS g, l_extendedprice AS x FROM lineitem
      WHERE l_extendedprice IS NOT NULL),
    n AS (SELECT g, count(*) AS n FROM v GROUP BY g),
    s AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS r FROM v),
    qs AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q)
    SELECT s.g AS l_returnflag, qs.q,
           greatest(1, CAST(ceil(qs.q * n.n) AS BIGINT)) AS k,
           s.x AS value
    FROM s JOIN n USING (g)
    JOIN qs ON s.r = greatest(1, CAST(ceil(qs.q * n.n) AS BIGINT))
    """,
)
def grouped_quantile_exact_scalable(spark, sf_dir):
    """Per-group exact p50/p90 of l_extendedprice by returnflag via the
    fully distributed bracket-and-refine plan
    (operators/ranking.grouped_exact_quantiles): per-task state bounded
    by the sketch bracket (~4ε·n_g), never the group — the grouped
    replacement for exact ``percentile``'s whole-group aggregation
    buffer.  Values are actual data, so the sort-based oracle agrees
    bit-for-bit."""
    from processo_etl_spark.operators import ranking

    li = t(spark, sf_dir, "lineitem")
    return ranking.grouped_exact_quantiles(
        li, "l_returnflag", "l_extendedprice", [0.5, 0.9]
    )


@register(
    "regression_price_on_qty_by_brand",
    oracle="""
    WITH s AS (
      SELECT p_brand,
        count(*) AS n,
        SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))) AS sx,
        SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS sy,
        SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))
            * CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))) AS sxx,
        SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))
            * CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS syy,
        SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))
            * CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS sxy
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand)
    SELECT p_brand, n,
      ROUND(CAST(
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        AS DOUBLE), 12) AS slope,
      ROUND(CAST(
        (CAST(sy AS DOUBLE)
         - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE) AS DOUBLE), 6) AS intercept,
      ROUND(CAST(
        ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        AS DOUBLE), 12) AS r2
    FROM s
    """,
)
def regression_price_on_qty_by_brand(spark, sf_dir):
    """Per-group OLS (extendedprice ~ quantity by brand) from EXACT
    decimal moment sums — grouped model fitting as ONE combinable
    groupBy after a broadcast dim join; no MLlib iteration, no
    per-group data movement beyond the moments.  Built-in covar/corr
    accumulate order-dependent doubles; exact decimal (n, Σx, Σy, Σxx,
    Σyy, Σxy) are order-insensitive and the closed-form slope /
    intercept / r² is identical IEEE arithmetic on both engines,
    rounded to 12 decimals (same ULP rationale as corr_matrix)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    x, y = dec("l_quantity"), dec("l_extendedprice")
    s = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cov = d("n") * d("sxy") - d("sx") * d("sy")
    varx = d("n") * d("sxx") - d("sx") * d("sx")
    vary = d("n") * d("syy") - d("sy") * d("sy")
    slope = cov / varx
    return s.select(
        "p_brand",
        "n",
        F.round(slope.cast("double"), 12).alias("slope"),
        # 6 decimals, not 12: intercept ~1e4-1e5, and ROUND(x, d) is only
        # engine-portable while |x|*10^d < 2^53 (corr_matrix ULP note).
        F.round(
            ((d("sy") - slope * d("sx")) / d("n")).cast("double"), 6
        ).alias("intercept"),
        F.round(((cov * cov) / (varx * vary)).cast("double"), 12).alias("r2"),
    )


@register(
    "skyline_parts_price_size",
    oracle="""
    SELECT p_partkey, p_retailprice, p_size FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """,
)
def skyline_parts_price_size(spark, sf_dir):
    """Pareto frontier of parts — cheapest-for-their-size (minimize
    retailprice, maximize size) via operators/ranking.skyline_2d: the
    sort-based O(n log n) skyline distributed with the range-partition
    + driver-prefix running-min trick, vs the oracle's O(n²) NOT EXISTS
    dominance scan.  groupBy-x collapses to |distinct prices| before
    any ordering work; no global window, no theta join."""
    from processo_etl_spark.operators import ranking

    part = t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    negsize = internal("negsize")
    neg = part.withColumn(negsize, -F.col("p_size"))
    return ranking.skyline_2d(neg, "p_retailprice", negsize).select(
        "p_partkey", "p_retailprice", "p_size"
    )


@register(
    "bootstrap_ci_price_mean",
    oracle="""
    WITH reps AS (SELECT unnest(generate_series(0, 31)) AS b),
    base AS (
      SELECT CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2)) AS x,
             CAST(l_orderkey AS VARCHAR) || ':' ||
             CAST(l_linenumber AS VARCHAR) AS k
      FROM lineitem),
    drawn AS (
      SELECT r.b, base.x,
        (CAST(('0x' || substr(md5('bs' || CAST(r.b AS VARCHAR) || ':' || base.k), 1, 15)) AS BIGINT) + 0.5)
          / 1152921504606846976.0 AS u
      FROM base CROSS JOIN reps r),
    wtab AS (SELECT b, x, (CASE WHEN u >= 0.36787944117144233 THEN 1 ELSE 0 END) + (CASE WHEN u >= 0.7357588823428847 THEN 1 ELSE 0 END) + (CASE WHEN u >= 0.9196986029286058 THEN 1 ELSE 0 END) + (CASE WHEN u >= 0.9810118431238463 THEN 1 ELSE 0 END) + (CASE WHEN u >= 0.9963401531726563 THEN 1 ELSE 0 END) + (CASE WHEN u >= 0.9994058151824183 THEN 1 ELSE 0 END) + (CASE WHEN u >= 0.999916758850712 THEN 1 ELSE 0 END) + (CASE WHEN u >= 0.9999897508033253 THEN 1 ELSE 0 END) AS w FROM drawn),
    means AS (
      SELECT b, CAST(SUM(x * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean
      FROM wtab WHERE w > 0 GROUP BY b
      UNION ALL
      SELECT -1 AS b, CAST(SUM(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      FROM base)
    SELECT
      max(CASE WHEN b = -1 THEN mean END) AS point_mean,
      (list_sort(list(mean) FILTER (WHERE b >= 0)))[2] AS ci_lo,
      (list_sort(list(mean) FILTER (WHERE b >= 0)))[31] AS ci_hi,
      CAST(count(*) FILTER (WHERE b >= 0) AS BIGINT) AS n_replicates
    FROM means
""",
)
def bootstrap_ci_price_mean(spark, sf_dir):
    """90% CI for mean(l_extendedprice) via the Poisson bootstrap
    (quality/audit.poisson_bootstrap_mean_ci): 32 deterministic
    hash-Poisson replicate means in one bounded explode + one
    combinable groupBy — the bootstrap that distributes (no global
    resampling coordination).  Exact decimal replicate sums make the
    whole CI bit-identical to the SQL replay."""
    from processo_etl_spark.quality import audit

    li = t(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit(":"),
        F.col("l_linenumber").cast("string"),
    )
    return audit.poisson_bootstrap_mean_ci(li, "l_extendedprice", key)


@register(
    "abtest_welch_price_promo",
    oracle="""
    WITH s AS (
      SELECT (l_partkey % 2 = 0) AS grp,
        count(*) AS n,
        SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS sx,
        SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))
            * CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2))) AS sxx
      FROM lineitem GROUP BY 1),
    m AS (
      SELECT grp, n,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
           / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS var
      FROM s),
    w AS (
      SELECT
        max(CASE WHEN grp THEN n END) AS n_a,
        max(CASE WHEN NOT grp THEN n END) AS n_b,
        max(CASE WHEN grp THEN mean END) AS mean_a,
        max(CASE WHEN NOT grp THEN mean END) AS mean_b,
        max(CASE WHEN grp THEN var END) AS var_a,
        max(CASE WHEN NOT grp THEN var END) AS var_b
      FROM m)
    SELECT n_a, n_b,
      ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
      ROUND((mean_a - mean_b)
        / sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE)),
        8) AS t_stat,
      abs((mean_a - mean_b)
        / sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE)))
        > 1.959963984540054 AS significant_95
    FROM w
    """,
)
def abtest_welch_price_promo(spark, sf_dir):
    """Two-sample Welch t-test between segments (even vs odd partkey
    playing treatment/control) from EXACT decimal moments: one
    combinable groupBy yields (n, Σx, Σx²) per arm; mean, sample
    variance, and the Welch statistic are then identical IEEE
    arithmetic on both engines (sqrt is correctly rounded).  The
    verdict compares |t| to the fixed large-df 95% critical value —
    a t CDF is not engine-portable, a literal threshold is.  Means
    round at 6 / t at 8 decimals per the 2^53 ROUND-portability rule."""
    li = t(spark, sf_dir, "lineitem")
    x = dec("l_extendedprice")
    s = li.groupBy((F.col("l_partkey") % 2 == 0).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    m = s.select(
        "grp",
        "n",
        (d("sx") / d("n")).alias("mean"),
        (
            (d("sxx") - d("sx") * d("sx") / d("n"))
            / (F.col("n") - 1).cast("double")
        ).alias("var"),
    )
    g = lambda c, t_: F.max(F.when(F.col("grp") == t_, F.col(c)))  # noqa: E731
    w = m.agg(
        g("n", True).alias("n_a"),
        g("n", False).alias("n_b"),
        g("mean", True).alias("mean_a"),
        g("mean", False).alias("mean_b"),
        g("var", True).alias("var_a"),
        g("var", False).alias("var_b"),
    )
    tstat = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a").cast("double")
        + F.col("var_b") / F.col("n_b").cast("double")
    )
    return w.select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(tstat, 8).alias("t_stat"),
        (F.abs(tstat) > F.lit(1.959963984540054)).alias("significant_95"),
    )


@register(
    "impute_median_by_group",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS g, l_quantity AS x FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_quantity > 0),
    n AS (SELECT g, count(*) AS n FROM v GROUP BY g),
    s AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS r FROM v),
    med AS (
      SELECT s.g, s.x AS med FROM s JOIN n USING (g)
      WHERE s.r = greatest(1, CAST(ceil(0.5 * n.n) AS BIGINT)))
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           CASE WHEN l.l_quantity IS NULL OR l.l_quantity <= 0
                THEN med.med ELSE l.l_quantity END AS qty_imputed
    FROM lineitem l JOIN med ON l.l_returnflag = med.g
    """,
)
def impute_median_by_group(spark, sf_dir):
    """Per-GROUP median imputation — the grouped generalization of the
    reference's global median fill (dag.py:79-90), composed from
    operators/ranking.grouped_exact_quantiles (type-1 median, per-task
    state bounded by the sketch bracket) broadcast back by equi-join:
    null/non-positive quantities take their returnflag's median.  The
    exact ``percentile`` per group would buffer whole groups; this path
    never does."""
    from processo_etl_spark.operators import ranking

    li = t(spark, sf_dir, "lineitem")
    valid = li.filter(
        F.col("l_quantity").isNotNull() & (F.col("l_quantity") > 0)
    )
    med = ranking.grouped_exact_quantiles(
        valid, "l_returnflag", "l_quantity", [0.5]
    ).select("l_returnflag", F.col("value").alias("med"))
    return li.join(F.broadcast(med), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.when(
            F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0),
            F.col("med"),
        )
        .otherwise(F.col("l_quantity"))
        .alias("qty_imputed"),
    )
