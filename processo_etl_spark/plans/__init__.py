"""Query-plan registry.

Every operator from ``SURVEY.md §2`` (plus the scale extensions) registers
itself here as a named pair:

- a PySpark callable ``(spark, sf_dir) -> DataFrame`` — the engine's
  DataFrame-first implementation, and
- an oracle: the equivalent ANSI SQL string DuckDB runs on the same
  parquet tables (omitted only for genuinely non-SQL-expressible ops,
  where the driver records a weaker rows-only check).

Numeric-parity convention: aggregates run in exact, order-insensitive
DECIMAL internally — never raw double sums, whose order varies across
partitions — but no registry query emits a DecimalType output column:
every final numeric output is ``.cast("double")`` on the Spark side and
``CAST(... AS DOUBLE)`` in the oracle, so the exact decimal maps to the
same nearest IEEE double on both engines.  Integer aggregates in an
oracle are ``CAST(... AS BIGINT)`` (DuckDB would type them HUGEINT).
Source-column passthroughs stay raw, timestamps are TIMESTAMP_NTZ on
both sides (parquet naive + UTC session), and every computed column is
aliased identically in both implementations.  ``grading.py`` owns the
output-schema checks that enforce these rules.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Plan modules that self-register on import.  Registry order is this
# list's import order, then definition order within each module.
_PLAN_MODULES = (
    "relational",
    "aggregates",
    "scalar",
    "star",
    "windows",
    "mlops",
    "events",
    "temporal",
    "tpch",
    "textlm",
    "retrieval",
    "incremental",
    "web",
    "media",
    "privacy",
    "profile",
    "analytics",
    "stream_equiv",
    "curation",
)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query (and optionally its DuckDB oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load() -> None:
    for mod in _PLAN_MODULES:
        importlib.import_module(f"{__name__}.{mod}")


def all_queries() -> dict[str, QueryFn]:
    """A copy of the registry, in registration order."""
    _load()
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    """A copy of the oracle map, in registration order."""
    _load()
    return dict(_ORACLES)
