"""Comments and docstrings say what the code does and why, not which
review round asked for it: no round tag (a review name followed by a
round number, or a bare round number in parentheses) anywhere in the
package, the tools, the tests, the bench or the driver entry point."""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PATHS = [
    *sorted((ROOT / "processo_etl_spark").rglob("*.py")),
    *sorted((ROOT / "tools").rglob("*.py")),
    *sorted((ROOT / "tests").rglob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]
# A round number: ``r`` and one or two digits standing alone in prose.
TAG = re.compile(r"\b(?:VERDICT|ADVICE|[Rr]eview) r\d+|(?<![\w.])r\d{1,2}(?!\w)")


def _prose(src: str):
    """(line, text) of every comment and docstring line in ``src`` —
    code may still name a column or a CTE after a round number."""
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            yield tok.start[0], tok.string
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            doc = ast.get_docstring(node, clean=False)
            if doc:
                first = node.body[0].lineno
                for i, line in enumerate(doc.splitlines()):
                    yield first + i, line


def test_tag_pattern_separates_rounds_from_prose():
    src = (
        '"""Plan (VERDICT r4 #7), lesson of r2, mid-r7; quarter (Q1)."""\n'
        'r1 = internal("r1")  # (r14): measured\n'
        'sql = "SELECT 1 AS r2"  # review r11\n'
        "x = 1  # rows r and r2d2, error_r5, ADVICE rounds\n"
    )
    assert [n for n, text in _prose(src) for _ in TAG.finditer(text)] == [
        2,
        3,
        1,
        1,
        1,
    ]


def test_no_round_tag_in_comments_or_docstrings():
    hits = [
        f"{path.relative_to(ROOT)}:{n}: {m.group(0)}"
        for path in PATHS
        for n, text in _prose(path.read_text())
        for m in TAG.finditer(text)
    ]
    assert not hits, "say what and why, not which round:\n" + "\n".join(hits)
