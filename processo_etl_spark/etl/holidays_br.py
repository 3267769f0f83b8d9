"""Brazilian national holiday dates, computed driver-side.

Replaces the reference's per-row ``x in holidays.Brazil()`` Python call
(reference dag.py:161, C5) with a list of dates that the transform tests
with one set-membership expression (``functions.derive.is_holiday``) —
no per-row Python at any scale.

Movable feasts use the anonymous Gregorian Easter computus (public
algorithm); fixed dates are the Brazilian national holidays the
``holidays`` library emits for Brazil.
"""

from __future__ import annotations

import datetime as dt

FIXED_HOLIDAYS = (
    (1, 1),    # Confraternização Universal
    (4, 21),   # Tiradentes
    (5, 1),    # Dia do Trabalhador
    (9, 7),    # Independência
    (10, 12),  # Nossa Senhora Aparecida
    (11, 2),   # Finados
    (11, 15),  # Proclamação da República
    (12, 25),  # Natal
)


def easter_date(year: int) -> dt.date:
    """Anonymous Gregorian computus."""
    a = year % 19
    b, c = divmod(year, 100)
    d, e = divmod(b, 4)
    g = (8 * b + 13) // 25
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    l = (32 + 2 * e + 2 * i - h - k) % 7  # noqa: E741
    m = (a + 11 * h + 22 * l) // 451
    month, day = divmod(h + l - 7 * m + 114, 31)
    return dt.date(year, month, day + 1)


def national_holidays(year: int, include_optional: bool = False) -> list[dt.date]:
    """Public Brazilian holidays, matching ``holidays.Brazil()``'s default
    PUBLIC category (fixed dates + Good Friday); ``include_optional``
    adds the lib's OPTIONAL category (Carnival Mon/Tue, Corpus Christi).
    """
    easter = easter_date(year)
    movable = [easter - dt.timedelta(days=2)]  # Sexta-feira Santa (public)
    if include_optional:
        movable += [
            easter - dt.timedelta(days=48),  # Carnaval (Monday)
            easter - dt.timedelta(days=47),  # Carnaval (Tuesday)
            easter + dt.timedelta(days=60),  # Corpus Christi
        ]
    fixed = [dt.date(year, m, d) for m, d in FIXED_HOLIDAYS]
    return sorted(fixed + movable)

