"""Skew mitigation: salted join for hot keys.

First line of defense is AQE (`spark.sql.adaptive.skewJoin.enabled`,
on in session.py) — it splits oversized shuffle partitions at runtime
with zero code change.  Salting is the explicit fallback for the cases
AQE can't fix: a *single* key so hot that even a split partition's build
side explodes, or a broadcast that doesn't fit.

``salted_join``: the big (skewed) side gets a random salt in [0, n);
the small side is exploded n× so every (key, salt) pair exists — the
join key becomes (key, salt), spreading each hot key over n tasks.
Cost: small side replicated n× (choose n ≈ skew factor, not cores).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal

SALT_COL = internal("salt")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str] | str,
    n_salts: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join with the big side salted and the small side replicated.

    Row-level results are identical to ``big.join(small, on, how)`` for
    'inner' and 'left' joins (each big row carries exactly one salt and
    meets exactly one replica of its key).
    """
    keys = [on] if isinstance(on, str) else list(on)
    big_salted = big.withColumn(
        SALT_COL, F.floor(F.rand(seed) * n_salts).cast("int")
    )
    small_exploded = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = big_salted.join(small_exploded, on=[*keys, SALT_COL], how=how)
    return out.drop(SALT_COL)


def skew_report(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Key-skew profile for a prospective shuffle key — the measurement
    that DECIDES between the plain plan, AQE, and ``salted_join``
    (choose n_salts ≈ skew_factor): per-key counts reduced to
    ``n_rows``, ``n_keys``, ``max_count``, ``max_key_share``,
    ``top{k}_share``, ``cov`` (coefficient of variation of key counts)
    and ``skew_factor`` (hottest key vs mean — the straggler-task
    multiplier a shuffle on this key would suffer).

    Scale shape: ONE combinable groupBy to |keys| rows; every statistic
    then reduces that summary (the top-k is a TakeOrdered over |keys|,
    never a global window).  Moments are exact integer/decimal sums
    (Σc as long, Σc² as DECIMAL(38,0) — counts up to ~1e9 would
    overflow int64 squared), so the doubles are reproducible and
    oracle-checkable: cov = √((K·Σc² − N²)) / N with that literal
    bracketing on both engines.  ``cov`` is emitted ROUND(·, 9): its
    K·Σc² − N² is a multiply-subtract an FMA-contracting engine build
    can evaluate one ULP differently (a drift seen on the driver); the other
    ratios are single correctly-rounded ops and stay raw."""
    counts = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    top = counts.orderBy(F.col("c").desc(), "k").limit(top_k)
    top_sum = top.agg(F.sum("c").alias("s")).first()["s"] or 0
    s = counts.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_count"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sq"),
    )
    n = F.col("n_rows").cast("double")
    k = F.col("n_keys").cast("double")
    var_num = k * F.col("sq").cast("double") - n * n
    return s.select(
        "n_rows",
        "n_keys",
        "max_count",
        (F.col("max_count").cast("double") / n).alias("max_key_share"),
        (F.lit(float(top_sum)) / n).alias(f"top{top_k}_share"),
        F.round(F.sqrt(var_num) / n, 9).alias("cov"),
        (F.col("max_count").cast("double") * k / n).alias("skew_factor"),
    )
