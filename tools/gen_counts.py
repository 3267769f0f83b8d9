"""Single source of truth for registry counts in the docs.

The docs in ``DOCS`` state the registered-query / oracle / test counts;
once they were hand-maintained and drifted twice despite "sync
counts" commits.  This tool derives the counts from
``plans.all_queries()`` / ``plans.all_oracles()`` and the test files and
rewrites every ``N registered queries`` / ``N queries, M
DuckDB-oracled`` / ``(N tests)`` phrase in place.  Run after
registering or removing queries or tests:

    python tools/gen_counts.py          # rewrite docs
    python tools/gen_counts.py --check  # exit 1 if any doc is stale
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from processo_etl_spark import plans  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
DOCS = ("README.md", "COVERAGE.md", "SURVEY.md", ".claude/skills/verify/SKILL.md")


def count_tests() -> int:
    """Number of pytest test functions/methods under tests/ — the
    mechanical source for every '(N tests)' phrase in the docs (the
    hand-maintained counts drifted to three different values)."""
    n = 0
    for p in sorted((ROOT / "tests").glob("test_*.py")):
        n += len(re.findall(r"^\s*def (test_\w+)", p.read_text(), re.M))
    return n


def rewrite(text: str, n_q: int, n_o: int, n_t: int) -> str:
    text = re.sub(r"\(\d+ tests\)", f"({n_t} tests)", text)
    text = re.sub(r"\b\d+ test functions\b", f"{n_t} test functions", text)
    text = re.sub(
        r"\b\d+ queries, \d+ DuckDB-oracled",
        f"{n_q} queries, {n_o} DuckDB-oracled",
        text,
    )
    text = re.sub(
        r"\b\d+ registered queries, \d+ with DuckDB oracles",
        f"{n_q} registered queries, {n_o} with DuckDB oracles",
        text,
    )
    text = re.sub(
        r"\b\d+ registered queries / \d+\n(\s*)DuckDB oracles",
        f"{n_q} registered queries / {n_o}\n\\1DuckDB oracles",
        text,
    )
    text = re.sub(
        r"\b\d+ registered queries / \d+ DuckDB oracles",
        f"{n_q} registered queries / {n_o} DuckDB oracles",
        text,
    )
    return text


def main() -> int:
    check = "--check" in sys.argv[1:]
    n_q = len(plans.all_queries())
    n_o = len(plans.all_oracles())
    n_t = count_tests()
    stale = []
    for doc in DOCS:
        p = ROOT / doc
        old = p.read_text()
        new = rewrite(old, n_q, n_o, n_t)
        if new != old:
            stale.append(doc)
            if not check:
                p.write_text(new)
    if check and stale:
        print(f"stale counts (want {n_q}/{n_o}, {n_t} tests): {stale}")
        return 1
    print(f"counts {n_q} queries / {n_o} oracles / {n_t} tests; " +
          (f"rewrote {stale}" if stale else "docs already in sync"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
