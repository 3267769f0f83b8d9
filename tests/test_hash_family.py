"""The md5-affine hash family under MinHash, the Bloom filter and
Count-Min has one owner per engine: ``ml/dedup.affine_hashes`` on Spark
and ``plans/mlops._affine_sql`` in the DuckDB oracles.  Only those two
modules read the family's constants, and no module borrows a sketch
module's private cell helper."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "processo_etl_spark"
OWNERS = {PKG / "ml" / "dedup.py", PKG / "plans" / "mlops.py"}
CONSTANTS = re.compile(r"\bperm_constants\(")
# private helper -> the one module that may use it
HELPERS = {
    "_word_masks": PKG / "ml" / "bloom.py",
    "_bucket_structs": PKG / "ml" / "sketches.py",
}


def _borrowed(tree: ast.AST) -> set[str]:
    """Helper names a module imports (``from m import _x``) or reaches
    as an attribute (``m._x``)."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
    return names & set(HELPERS)


def test_guard_finds_borrowed_helpers():
    assert _borrowed(ast.parse("from x.bloom import (\n    _word_masks,\n)")) == {
        "_word_masks"
    }
    assert _borrowed(ast.parse("sketches._bucket_structs(k, 4, 256)")) == {
        "_bucket_structs"
    }
    assert not _borrowed(ast.parse("from x.bloom import bloom_build"))
    assert CONSTANTS.search("for a, b in perm_constants(k):")


def test_family_constants_read_only_by_the_two_owners():
    hits = [
        f"{path.relative_to(PKG.parent)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path not in OWNERS
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if CONSTANTS.search(line)
    ]
    assert not hits, "use dedup.affine_hashes or mlops._affine_sql:\n" + "\n".join(
        hits
    )


def test_no_module_borrows_a_sketch_cell_helper():
    hits = [
        f"{path.relative_to(PKG.parent)}: {name}"
        for path in sorted(PKG.rglob("*.py"))
        for name in sorted(_borrowed(ast.parse(path.read_text())))
        if HELPERS[name] != path
    ]
    assert not hits, "\n".join(hits)
