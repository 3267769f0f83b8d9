"""Joins, dedup, union, top-k — the relational core.

Spark-first equivalents of the reference's pandas dataflow ops:
right-outer merge (reference dag.py:48, J1), keep-first dedup
(dag.py:49/263, D1/D3), full-row distinct (dag.py:220-236, D2),
concat-union (dag.py:208, U1), value_counts top-k (Análise.ipynb:1374,
A3/A4/O2/O3).

Determinism: pandas ``drop_duplicates(keep='first')`` is deterministic by
file order; Spark's ``dropDuplicates`` keeps an arbitrary row.
``dedup_keep_first`` (``row_number`` over an explicit tiebreaker — exact,
reproducible, oracle-comparable) is the engine's one keep-first.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal


def right_outer_join(
    left: DataFrame, right: DataFrame, on: list[str] | str, project_left: list[str] | None = None
) -> DataFrame:
    """J1 (dag.py:48): project the left side, keep every right-side row.

    Column pruning before the join mirrors the reference's manual
    projection — Catalyst would push it down anyway, but being explicit
    keeps the scan schema minimal for CSV sources too.
    """
    if project_left:
        left = left.select(*project_left)
    return left.join(right, on=on, how="right")


def dedup_keep_first(
    df: DataFrame, subset: list[str], order_by: list[str | Column]
) -> DataFrame:
    """D1/D3 exact path: keep the first row per key under an explicit order.

    ``row_number`` over (partitionBy subset, orderBy tiebreaker) == 1.
    One shuffle on the key — same cost class as dropDuplicates, but
    deterministic and reproducible at any scale.  ``order_by`` entries
    are column names or sort expressions (``F.desc(c)``).
    """
    rn = internal("rn")
    w = Window.partitionBy(*subset).orderBy(*order_by)
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) == 1).drop(rn)


def distinct_rows(df: DataFrame, cols: list[str]) -> DataFrame:
    """D2 (dag.py:220-236): projected full-row distinct."""
    return df.select(*cols).distinct()


def union_all(dfs: list[DataFrame]) -> DataFrame:
    """U1 (dag.py:208): name-based union (like pd.concat), not positional."""
    return reduce(DataFrame.unionByName, dfs)


def value_counts(df: DataFrame, col: str, desc: bool = True) -> DataFrame:
    """A3 (Análise.ipynb:1095+): frequency of each value.

    Ties broken by value so the output is deterministic (pandas breaks
    ties by first-seen order, which has no distributed analogue).
    """
    out = df.groupBy(col).count()
    order = [F.desc("count"), F.asc(col)] if desc else [F.asc(col)]
    return out.orderBy(*order)


def top_k(df: DataFrame, col: str, k: int) -> DataFrame:
    """A4/O3 (Análise.ipynb:1374): top-k values by frequency.

    Plans as TakeOrderedAndProject — no global sort materialization.
    """
    return value_counts(df, col).limit(k)
