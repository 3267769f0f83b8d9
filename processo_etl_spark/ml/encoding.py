"""Categorical feature encoding for ML pipelines.

Target (mean) encoding replaces a high-cardinality categorical with the
target's per-category mean — the standard tree/GBM feature for
categories too wide to one-hot.  Two well-known traps, both handled:

- **Leakage**: a row seeing its own target in its feature leaks label
  information; the leave-one-out form excludes it ((Σ_c − y_i)/(n_c −
  1)) — per-row, from the same per-category sums, no second pass.
- **Small categories**: raw means of tiny categories are noise; the
  m-estimate shrinks toward the global mean with pseudo-count m
  (Micci-Barreca 2001, the standard smoothing).

Scale shape: ONE combinable groupBy to |categories| rows, broadcast
back by equi-join — the fact table never shuffles.  All sums are exact
decimals, the final blend is identical IEEE arithmetic on any engine
(global mean enters as a two-pass scalar literal; its decimal→double
conversion is exact while the scaled sum stays under 2^53 — beyond
that, ship it as DECIMAL text).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal


def target_encode_loo(
    df: DataFrame,
    category_col: str,
    target_col: str,
    smoothing: float = 20.0,
    scale: int = 2,
    out_col: str = "target_enc",
) -> DataFrame:
    """Append the leave-one-out m-estimate target encoding:

    ``enc_i = (Σ_c − y_i + m·ȳ) / (n_c − 1 + m)``

    where Σ_c/n_c are the row's category sums, ȳ the global target
    mean, and m the smoothing pseudo-count.  Categories of size 1
    reduce to ȳ exactly (the leave-one-out numerator drops to m·ȳ).

    NULL handling: Σ_c, n_c, and ȳ aggregate only NON-NULL
    targets, so a null target never inflates a denominator.  A row with
    a null target keeps its category's plain m-estimate (no
    leave-one-out — it contributed nothing to Σ_c).  Rows whose
    category is NULL — or whose category has no non-null targets — get
    the global prior ȳ (the n_c = 0 limit of the m-estimate) instead of
    being dropped: the join is a left join.
    """
    y = F.round(F.col(target_col), scale).cast(f"decimal(12,{scale})")
    valid = df.filter(F.col(target_col).isNotNull())
    cat, cat_sum, cat_n = internal("c"), internal("sum"), internal("n")
    per_cat = valid.groupBy(F.col(category_col).alias(cat)).agg(
        F.sum(y).alias(cat_sum), F.count(F.lit(1)).alias(cat_n)
    )
    g = valid.agg(
        F.sum(y).cast("double").alias("s"), F.count(F.lit(1)).alias("n")
    ).first()
    gmean = (g["s"] / g["n"]) if g["n"] else 0.0
    joined = df.join(
        F.broadcast(per_cat), df[category_col] == F.col(cat), "left"
    ).drop(cat)
    has_y = F.col(target_col).isNotNull()
    num = (
        (F.col(cat_sum) - F.when(has_y, y).otherwise(F.lit(0))).cast("double")
        + F.lit(smoothing) * F.lit(gmean)
    )
    den = (
        (F.col(cat_n) - F.when(has_y, F.lit(1)).otherwise(F.lit(0))).cast(
            "double"
        )
        + F.lit(smoothing)
    )
    enc = F.coalesce(num / den, F.lit(gmean))
    return joined.withColumn(out_col, enc).drop(cat_sum, cat_n)
