"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).  ``tools/check_oracles.py`` runs the
same comparison locally.

Implementation lives in ``processo_etl_spark``; this file only adapts
the plan registry (processo_etl_spark/plans) to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from processo_etl_spark import plans

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    return plans.all_queries()["q1_pricing_summary"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""
    return plans.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every oracle-checkable query."""
    return plans.all_oracles()
