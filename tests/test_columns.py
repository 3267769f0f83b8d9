"""Engine-internal column and view names have one owner: every one is
built by ``processo_etl_spark.columns.internal`` under the reserved
``__pe_`` prefix, so no module spells a bare ``__name`` of its own."""

from __future__ import annotations

import re
from pathlib import Path

from processo_etl_spark.columns import PREFIX, internal

PKG = Path(__file__).resolve().parents[1] / "processo_etl_spark"
OWNER = PKG / "columns.py"
# A double-underscore word that is not a Python dunder (``__future__``)
# and not an attribute (``self.__x``).
BARE = re.compile(r"(?<![A-Za-z0-9_.])__[a-z][a-z0-9_]*(?<!__)(?![A-Za-z0-9_])")


def test_guard_pattern_separates_internals_from_dunders():
    assert BARE.findall('df.withColumn("__rn", x).drop(f"__ks{i}")') == [
        "__rn",
        "__ks",
    ]
    assert not BARE.search("from __future__ import annotations; __init__")
    assert not BARE.search("self.__hidden")


def test_no_bare_internal_name_outside_the_owner():
    hits = [
        f"{path.relative_to(PKG.parent)}:{n}: {m.group(0)}"
        for path in sorted(PKG.rglob("*.py"))
        if path != OWNER
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for m in BARE.finditer(line)
    ]
    assert not hits, "build internal names with columns.internal:\n" + "\n".join(
        hits
    )


def test_internal_names_carry_the_reserved_prefix():
    assert PREFIX == "__pe_"
    assert internal("rn") == "__pe_rn"
