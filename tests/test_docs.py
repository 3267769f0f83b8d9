"""Docs stay mechanically in sync with the registry: every count they
quote is derived, never hand-edited."""

from pathlib import Path


def test_registry_counts_in_docs_are_current():
    """README/COVERAGE/SURVEY counts must match plans.all_queries() —
    regenerate with `python tools/gen_counts.py` after registering or
    removing queries."""
    import subprocess
    import sys

    res = subprocess.run(
        [sys.executable, "tools/gen_counts.py", "--check"],
        capture_output=True,
        text=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert res.returncode == 0, res.stdout + res.stderr
