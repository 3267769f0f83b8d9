"""Single source of truth for registry counts in the docs (VERDICT r4 #9).

Three docs (README.md, COVERAGE.md, SURVEY.md) state the registered-query
/ oracle counts; through r4 they were hand-maintained and drifted twice
despite "sync counts" commits.  This tool derives the counts from
``plans.all_queries()`` / ``plans.all_oracles()`` and rewrites every
``N registered queries`` / ``N queries, M DuckDB-oracled`` phrase in
place.  Run after registering or removing queries:

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
    mechanical source for every '(N tests)' phrase in the docs (ADVICE
    r9: the hand-maintained counts drifted to three different values)."""
    n = 0
    for p in sorted((ROOT / "tests").glob("test_*.py")):
        n += len(re.findall(r"^\s*def (test_\w+)", p.read_text(), re.M))
    return n


def rounds_present(root: Path | None = None) -> list[int]:
    """Sorted round numbers of the CORRECTNESS_r*.json files on disk."""
    root = root or ROOT
    out = set()
    for p in root.glob("CORRECTNESS_r*.json"):
        m = re.search(r"CORRECTNESS_r(\d+)", p.stem)
        if m:
            out.add(int(m.group(1)))
    return sorted(out)


def window_block(rounds: frozenset[int], root: Path | None = None) -> str:
    """Generated grading-window digest (VERDICT r10 #5): the pinned
    listing, the tier-1 (never-graded oracle-backed) fill and the
    re-certify slot count are derived from the registry + the
    CORRECTNESS files of the given ``rounds`` set.  Rewritten between the ``<!-- gen:window
    rounds=... -->`` markers in COVERAGE.md / SKILL.md; the stamp
    records which round set the digest was built from, and ``--check``
    regenerates against that SAME set, so a new CORRECTNESS file the
    driver drops after the docs freeze (VERDICT r11 #1) can never make
    the committed digest retroactively stale."""
    from processo_etl_spark.plans import (
        _ORACLES,
        _PINNED,
        _QUERIES,
        _WINDOW,
        _grade_rounds,
        _load,
        _window_order,
    )

    root = root or ROOT
    _load()
    window = _window_order(list(_QUERIES), root=root, rounds=rounds)
    oracles = _ORACLES
    gr = _grade_rounds(root=root, rounds=rounds)
    # names with an explicit check-key False in some round (a TRUE red
    # grade): a red query re-enters the window and must be published as
    # "red, re-entering", not "never-graded" (review r11).  Crash rows
    # (non-None err) are deliberately NOT red — _grade_rounds treats
    # them as zero-signal, so publishing them as failed grades would
    # misreport an infra crash as a red result (ADVICE r11).
    import json as _json

    true_red: set[str] = set()
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", p.stem)
        if not m or int(m.group(1)) not in rounds:
            continue
        try:
            rows = _json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and any(
                row.get(k) is False
                for k in ("rows_match", "schema_match", "hash_match")
            ):
                true_red.add(name)
    rotation = window[len(_PINNED):]
    ungraded = [n for n in rotation if gr.get(n, 0) == 0]
    red = [n for n in ungraded if n in true_red]
    tier1 = [n for n in ungraded if n not in red and n in oracles]
    tier2 = [n for n in ungraded if n not in red and n not in oracles]
    recert = [n for n in rotation if gr.get(n, 0) > 0]
    lines = [
        f"- window: {_WINDOW} slots = {len(_PINNED)} pinned + "
        f"{len(rotation)} rotation",
        f"- pinned: {', '.join(_PINNED)}",
        f"- tier-1 never-graded oracle-backed fill ({len(tier1)}): "
        + (", ".join(tier1) if tier1 else "none — pool drained"),
    ]
    if red:
        lines.append(
            f"- RED, re-entering until green ({len(red)}): " + ", ".join(red)
        )
    if tier2:
        lines.append(
            f"- tier-2 never-graded rows-only fill ({len(tier2)}): "
            + ", ".join(tier2)
        )
    lines.append(
        f"- tier-3 re-certify slots: {len(recert)}"
        + (
            f" (oldest evidence r{min(gr[n] for n in recert)})"
            if recert
            else ""
        )
    )
    return "\n".join(lines)


# Opening marker optionally carries the round-set stamp the digest was
# built from: ``<!-- gen:window rounds=1,2,...,11 -->``.  Legacy
# unstamped markers match too (group 2 is then None) and are upgraded
# to the stamped form on the next rewrite.
_WINDOW_RE = re.compile(
    r"(<!-- gen:window(?: rounds=([\d,]+))? -->\n)(?:.*?\n)?"
    r"(<!-- /gen:window -->)",
    re.S,
)


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
    present = rounds_present()
    blocks: dict[frozenset[int], str] = {}  # per-round-set memo

    def _sub(m: re.Match) -> str:
        # --check regenerates against the round set STAMPED in the doc
        # (what the committed digest could have known); a rewrite
        # always re-stamps with the rounds on disk.  An unstamped
        # legacy marker falls back to the on-disk set either way.
        if check and m.group(2):
            use = frozenset(int(x) for x in m.group(2).split(","))
        else:
            use = frozenset(present)
        if use not in blocks:
            blocks[use] = window_block(use)
        # no stamp when no CORRECTNESS file exists yet (fresh checkout):
        # `rounds=` with nothing after it would not re-match the marker
        # regex and the block would freeze forever.
        stamp = (
            " rounds=" + ",".join(str(r) for r in sorted(use)) if use else ""
        )
        return (
            f"<!-- gen:window{stamp} -->\n"
            + blocks[use]
            + "\n"
            + m.group(3)
        )

    stale = []
    for doc in DOCS:
        p = ROOT / doc
        old = p.read_text()
        new = rewrite(old, n_q, n_o, n_t)
        new = _WINDOW_RE.sub(_sub, new)
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
