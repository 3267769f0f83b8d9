"""The one owner of engine-internal column and temp-view names.

Operators add scratch columns to the caller's frame (a row number, a
range-partition id, a running sum) and occasionally register a temp
view.  Every such name is built by :func:`internal`, under the one
reserved prefix ``__pe_``, so the contract is: the engine never reads,
overwrites or drops a caller column whose name lies outside ``__pe_*``.
Callers must not use that prefix for their own columns.
"""

from __future__ import annotations

PREFIX = "__pe_"


def internal(name: str) -> str:
    """Reserved engine-internal name: ``internal("rn")`` is ``"__pe_rn"``."""
    return PREFIX + name
