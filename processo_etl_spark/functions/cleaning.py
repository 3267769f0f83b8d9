"""Cleaning / imputation / domain-validation column functions.

Re-expresses the reference's cleaning task (reference dag.py:59-129) as
native Spark expressions:

- median imputation of null/zero markers   (dag.py:79-90, C9/A1)
- sentinel fills (-1, 'não informado')     (dag.py:83-90, C9)
- domain allow-list recodes                (dag.py:92-103, C10/F5)
- cross-field constraint filters           (dag.py:116-127, F1-F3)

Scale note: the median is an aggregate consumed as a scalar.  We compute
it in one tiny job and inject it as a literal (two-pass), which re-plans
the main job with a constant — cheaper at 100 TB than a windowed
``median() OVER ()`` (global window = single-partition exchange) or a
cross-join subquery.  :func:`exact_medians` owns that pattern: every
median of one frame comes from ONE action, each column with its own
``FILTER`` predicate, so a caller can take medians meant for different
positions of its lineage in a single pass (the star pipeline's ``clean``
does, etl/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NOT_INFORMED = "não informado"


def exact_medians(df: DataFrame, predicates: dict[str, str]) -> dict[str, float]:
    """Exact medians of several columns in ONE action: column → median of
    the rows where its SQL ``predicate`` holds (``percentile ... FILTER``).

    Exact ``percentile`` matches pandas/DuckDB ``median`` (interpolates
    even-count middles).  A column with no qualifying row gets 0.0.  At
    the 100 TB scale swap for ``percentile_approx`` (documented deviation).
    """
    row = df.select(
        *[
            F.expr(f"percentile({c}, 0.5) FILTER (WHERE {pred})").alias(c)
            for c, pred in predicates.items()
        ]
    ).first()
    return {c: float(row[c]) if row[c] is not None else 0.0 for c in predicates}


def exact_median(df: DataFrame, col: str, exclude_zero: bool = True) -> float:
    """Exact median of one column; ``exclude_zero`` keeps ``col > 0`` rows."""
    return exact_medians(df, {col: f"{col} > 0" if exclude_zero else "true"})[col]


def impute_null_or_zero(col: str, value: float | int) -> Column:
    """null→value and 0→value (reference treats 0 as a null marker, dag.py:79-81)."""
    c = F.col(col)
    return F.when(c.isNull() | (c == 0), F.lit(value)).otherwise(c)


def impute_median(
    df: DataFrame, cols: list[str], exclude: str = "positive"
) -> DataFrame:
    """Two-pass median imputation for null/zero markers (dag.py:79-81, 122-127).

    ALL medians compute in ONE action (:func:`exact_medians`), not one
    job per column.

    ``exclude``: 'positive' keeps ``c > 0`` rows for the median (pessoas/
    veiculos, dag.py:122-123); 'nonzero' keeps ``c != 0`` (the reference's
    ano_fabricacao_veiculo filter, dag.py:79 — ``!= 0``, not ``> 0``).
    """
    pred = {"positive": "> 0", "nonzero": "<> 0"}[exclude]
    medians = exact_medians(df, {c: f"{c} {pred}" for c in cols})
    return df.withColumns({c: impute_null_or_zero(c, m) for c, m in medians.items()})


def fill_sentinels(
    df: DataFrame,
    numeric_minus1: list[str] | None = None,
    text_not_informed: list[str] | None = None,
) -> DataFrame:
    """null→-1 for numeric cols (dag.py:83-86); null→'não informado' for text (dag.py:88-90)."""
    out = df
    if numeric_minus1:
        out = out.fillna(-1, subset=numeric_minus1)
    if text_not_informed:
        out = out.fillna(NOT_INFORMED, subset=text_not_informed)
    return out


def domain_recode(col: str, allowed: list[str], fallback: str = NOT_INFORMED) -> Column:
    """Values outside the allow-list → fallback (dag.py:92-103)."""
    c = F.col(col)
    return F.when(~c.isin(*allowed) | c.isNull(), F.lit(fallback)).otherwise(c)


def apply_domains(df: DataFrame, domains: dict[str, list[str]]) -> DataFrame:
    return df.withColumns({c: domain_recode(c, vals) for c, vals in domains.items()})


def constraint_filter_le(df: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """Keep rows where lhs <= rhs (e.g. mortos <= pessoas, dag.py:116-119)."""
    return df.filter(F.col(lhs) <= F.col(rhs))


def positive_filter(df: DataFrame, col: str) -> DataFrame:
    """Keep rows with col > 0 (dag.py:122-123)."""
    return df.filter(F.col(col) > 0)


def winsorize_robust(
    df: DataFrame,
    col: str,
    keys: list[str],
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Winsorization + robust scaling of a numeric feature: clip to the
    [lower, upper] exact quantiles and z-score by median/IQR — the
    outlier-resistant normalization step (sklearn RobustScaler
    semantics) a feature pipeline runs before training.

    All five quantiles compute in ONE tiny aggregation action and
    re-enter the main scan as literals (the module's documented
    two-pass-scalar pattern) — no global window, no scalar cross-join;
    the per-row map then runs at scan speed.  At 100 TB swap the exact
    ``percentile`` for ``percentile_approx`` (same deviation note as
    ``exact_median``).

    Returns ``keys`` + value/winsorized/robust_z columns.
    """
    q = df.select(
        *[
            F.expr(f"percentile(CAST({col} AS DOUBLE), {p})").alias(n)
            for n, p in [
                ("lo", lower),
                ("hi", upper),
                ("med", 0.5),
                ("q1", 0.25),
                ("q3", 0.75),
            ]
        ]
    ).first()
    x = F.col(col).cast("double")
    iqr = q["q3"] - q["q1"]
    if iqr is None or iqr == 0:
        # Constant / near-constant column: dividing by a zero
        # IQR would emit ±Inf/NaN at scan speed with no warning.  The
        # quantile probe already ran driver-side, so fail loudly here.
        raise ValueError(
            f"winsorize_robust: IQR of {col!r} is {iqr!r} (q1 == q3); "
            "robust scaling is undefined for a constant column"
        )
    return df.select(
        *keys,
        x.alias("value"),
        F.least(F.greatest(x, F.lit(q["lo"])), F.lit(q["hi"])).alias("winsorized"),
        ((x - F.lit(q["med"])) / F.lit(iqr)).alias("robust_z"),
    )
