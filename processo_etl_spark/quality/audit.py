"""The reference notebook's validation loop (Análise.ipynb:1081-1274) as
reusable distributed queries.

Every check is ONE aggregation job (no per-column driver loops over
collect): the null audit computes all columns in a single pass; the
histogram/quantile helpers are two-pass only where the reference itself
is (auto-ranged bins need min/max).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal


def null_counts(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A2 (Análise.ipynb:1089): per-column null count, single pass, one row."""
    cols = cols or df.columns
    return df.select(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]
    )


def histogram_fixed(df: DataFrame, col: Column | str, lo: int, hi: int, nbins: int) -> DataFrame:
    """A6 (Análise.ipynb:1113-1115): fixed-range histogram (e.g. hours 0-24).

    Bin = floor((x-lo)*nbins/(hi-lo)), clamped — a single group-by, fully
    map-side combinable.
    """
    c = F.col(col) if isinstance(col, str) else col
    width_expr = (c - F.lit(lo)) * F.lit(nbins) / F.lit(hi - lo)
    bin_col = F.least(F.floor(width_expr).cast("int"), F.lit(nbins - 1)).alias("bin")
    return df.select(bin_col).groupBy("bin").count().orderBy("bin")


def histogram_auto(df: DataFrame, col: str, nbins: int = 10) -> DataFrame:
    """A7 (Análise.ipynb:1162-1213): auto-ranged histogram — two-pass.

    Pass 1: min/max (tiny job).  Pass 2: bucket + count with the bounds
    as literals (replanning with constants beats a cross-join subquery).
    """
    lo, hi = df.select(F.min(col), F.max(col)).first()
    c = F.col(col)
    if lo is None or hi == lo:
        return df.select(F.lit(0).alias("bin")).groupBy("bin").count()
    width_expr = (c - F.lit(float(lo))) * F.lit(nbins) / F.lit(float(hi) - float(lo))
    bin_col = F.least(F.floor(width_expr).cast("int"), F.lit(nbins - 1)).alias("bin")
    return df.select(bin_col).groupBy("bin").count().orderBy("bin")


def quartiles(df: DataFrame, col: str) -> DataFrame:
    """A8 (Análise.ipynb:1168-1219): exact q1/median/q3 (boxplot stats)."""
    return df.select(
        F.expr(f"CAST(percentile({col}, 0.25) AS DOUBLE)").alias("q1"),
        F.expr(f"CAST(percentile({col}, 0.5) AS DOUBLE)").alias("med"),
        F.expr(f"CAST(percentile({col}, 0.75) AS DOUBLE)").alias("q3"),
    )


def iqr_outliers(df: DataFrame, col: str) -> DataFrame:
    """A8: rows outside 1.5·IQR whiskers — two-pass (quartiles → filter)."""
    q1, _, q3 = df.select(
        F.expr(f"percentile({col}, 0.25)"),
        F.expr(f"percentile({col}, 0.5)"),
        F.expr(f"percentile({col}, 0.75)"),
    ).first()
    iqr = float(q3) - float(q1)
    lo, hi = float(q1) - 1.5 * iqr, float(q3) + 1.5 * iqr
    return df.filter((F.col(col) < lo) | (F.col(col) > hi))


def constraint_probe(df: DataFrame, predicate: str) -> DataFrame:
    """F6 (Análise.ipynb:1140/1150): SQL-string violation probe.

    The reference asserts these come back empty (`df.query(...)` then
    ``.empty``); callers check ``df.isEmpty()`` (A10).
    """
    return df.filter(predicate)


def all_valid(df: DataFrame, predicate: Column) -> DataFrame:
    """F9/A9 (Análise.ipynb:1128-1131): universal quantifier as bool_and."""
    return df.select(F.bool_and(predicate).alias("all_valid"))


def distinct_values(df: DataFrame, col: str) -> DataFrame:
    """O1 (Análise.ipynb:1104+): sorted domain listing."""
    return df.select(col).distinct().orderBy(col)


#: Poisson(1) CDF at k = 0..7 (weights cap at 8; tail mass 1e-5).  The
#: literals are embedded VERBATIM in SQL oracles — float repr round-trips,
#: so every engine parses the identical double.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
)


def poisson_bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    row_key: Column,
    replicates: int = 32,
    alpha: float = 0.10,
    scale: int = 2,
) -> DataFrame:
    """Confidence interval for a mean via the POISSON BOOTSTRAP — the
    bootstrap that distributes: classic resampling needs n draws WITH
    replacement per replicate (a global operation), but for large n the
    per-row multinomial resample count converges to independent
    Poisson(1) weights, so every row can draw its own weight for every
    replicate from a hash — one narrow pass, no sampling coordination
    (Chamandy et al. 2012, "Estimating uncertainty for massive data
    streams", the standard large-scale CI recipe).

    Determinism: weights come from md5-uniform draws against the
    POISSON1_CDF literals (inverse-CDF, capped at 8); replicate sums
    are exact decimals, so replicate means — and therefore the CI — are
    bit-identical on any engine replaying the same literals.

    Shape: a bounded (replicates+1)× explode (replicate −1 carries
    weight 1 everywhere = the full-sample point estimate, so no
    scalar-attach join) → ONE combinable groupBy on the replicate id →
    a final fold over |replicates| rows.  CI bounds are type-1 order
    statistics of the replicate means at ceil(α/2·R) / ceil((1−α/2)·R).
    """
    import math

    x = F.round(F.col(value_col), scale).cast(f"decimal(12,{scale})")
    # Each draw's md5 is evaluated ONCE into an array slot; the weight
    # is then derived inside a HOF where u is a BOUND VALUE.  (Inlining
    # the 8 CDF comparisons against the u EXPRESSION re-evaluates the
    # md5 per comparison — Catalyst does not CSE across array-literal
    # elements; measured 6× slower.)
    us = F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"bs{b}:"), row_key)), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                + F.lit(0.5)
            )
            / F.lit(float(1 << 60))
            for b in range(replicates)
        ]
    )
    cdf = F.lit(list(POISSON1_CDF))
    drawn = F.transform(
        us,
        lambda u, i: F.struct(
            i.alias("b"),
            F.size(F.filter(cdf, lambda t: u >= t)).alias("w"),
        ),
    )
    entries = F.concat(
        F.array(F.struct(F.lit(-1).alias("b"), F.lit(1).alias("w"))), drawn
    )
    xv = internal("x")
    ex = df.select(x.alias(xv), F.explode(entries).alias("r"))
    means = (
        ex.filter(F.col("r.w") > 0)
        .groupBy(F.col("r.b").alias("b"))
        .agg(
            (
                F.sum(F.col(xv) * F.col("r.w")).cast("double")
                / F.sum("r.w").cast("double")
            ).alias("mean")
        )
    )
    k_lo = max(1, math.ceil(alpha / 2 * replicates))
    k_hi = max(1, math.ceil((1 - alpha / 2) * replicates))
    arr = F.sort_array(
        F.collect_list(F.when(F.col("b") >= 0, F.col("mean")))
    )
    return means.agg(
        F.max(F.when(F.col("b") == -1, F.col("mean"))).alias("point_mean"),
        F.element_at(arr, k_lo).alias("ci_lo"),
        F.element_at(arr, k_hi).alias("ci_hi"),
        F.sum((F.col("b") >= 0).cast("long")).alias("n_replicates"),
    )
