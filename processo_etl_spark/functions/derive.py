"""Date/time derivation and conditional-derivation column functions.

Re-expresses the reference's transform task (reference dag.py:131-202):
date parts (dag.py:156-160, C3), Portuguese month names (dag.py:140-157,
C4), day-phase case expression (dag.py:106-113, C7), weekday/holiday
flags (dag.py:161-162, C5/C6), value recodes (dag.py:165, C8).

The holiday flag is a set-membership expression over the driver-computed
holiday dates (see ``etl.holidays_br``) instead of the reference's per-row
``x in holidays.Brazil()`` Python call — no UDF, no relation, no join.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# dag.py:140-153 — deterministic month-name map (no cluster-locale dependency).
MONTH_NAMES_PT = {
    1: "Janeiro", 2: "Fevereiro", 3: "Março", 4: "Abril",
    5: "Maio", 6: "Junho", 7: "Julho", 8: "Agosto",
    9: "Setembro", 10: "Outubro", 11: "Novembro", 12: "Dezembro",
}

WEEKEND_PT = ("sábado", "domingo")


def date_parts(c: Column | str) -> dict[str, Column]:
    """dia/mes/ano/trimestre from a date column (dag.py:156-160)."""
    col = F.col(c) if isinstance(c, str) else c
    return {
        "dia": F.dayofmonth(col),
        "mes_num": F.month(col),
        "ano": F.year(col),
        "trimestre": F.quarter(col),
    }


def _month_map() -> Column:
    pairs: list[Column] = []
    for k, v in MONTH_NAMES_PT.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.create_map(*pairs)


def month_name_pt(date_col: Column | str) -> Column:
    """Date → Portuguese month name via a map literal (dag.py:140-157)."""
    col = F.col(date_col) if isinstance(date_col, str) else date_col
    return F.element_at(_month_map(), F.month(col))


def month_name_from_num(num_col: Column | str) -> Column:
    """Month number (1-12) → Portuguese name (dag.py:140-157)."""
    col = F.col(num_col) if isinstance(num_col, str) else num_col
    return F.element_at(_month_map(), col.cast("int"))


def fase_dia(hour: Column | str) -> Column:
    """5-way day-phase case expression over the hour (dag.py:106-113).

    [5,7)→Amanhecer, [7,12)→Dia, [12,18)→Tarde, [18,24)→Noite,
    else→Madrugada.  Native ``when`` chain replaces the reference's
    row-wise ``df.apply(..., axis=1)``.
    """
    h = F.col(hour) if isinstance(hour, str) else hour
    return (
        F.when((h >= 5) & (h < 7), "Amanhecer")
        .when((h >= 7) & (h < 12), "Dia")
        .when((h >= 12) & (h < 18), "Tarde")
        .when((h >= 18) & (h < 24), "Noite")
        .otherwise("Madrugada")
    )


def dia_util(dia_semana: Column | str) -> Column:
    """Weekday flag: not Saturday/Sunday (dag.py:162) — native isin, no apply."""
    c = F.col(dia_semana) if isinstance(dia_semana, str) else dia_semana
    return ~c.isin(*WEEKEND_PT)


def recode(c: Column | str, mapping: dict[str, str], keep_unmatched: bool = True) -> Column:
    """Value recode map, e.g. uso_solo Não→Rural / Sim→Urbano (dag.py:165)."""
    col = F.col(c) if isinstance(c, str) else c
    expr: Column | None = None
    for k, v in mapping.items():
        expr = F.when(col == k, v) if expr is None else expr.when(col == k, v)
    assert expr is not None
    return expr.otherwise(col) if keep_unmatched else expr


def is_holiday(date_col: Column | str, holidays: Sequence[dt.date]) -> Column:
    """Holiday flag (replaces dag.py:161): ``date IN (<holidays>)``, a
    literal test (Catalyst hashes it into an InSet above 10 dates, i.e. from
    two years on); a NULL date → False."""
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return F.coalesce(c.isin(*holidays), F.lit(False))


def hour_decimal(ts: Column | str) -> Column:
    """hour + minute/60 (Análise.ipynb:~1113, C17)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.hour(c) + F.minute(c) / F.lit(60.0)
