"""Source rules checked on the syntax tree of every engine module.

- No ``assert`` statement: ``python -O`` strips it, so a check written as
  one vanishes in optimized runs. Checks raise ``ValueError`` instead.
- No ``pandas_udf``: a column kernel runs through ``rowmap.map_columns``
  (one ``mapInArrow`` stage), a per-row kernel through ``rowmap.map_rows``.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "fs2_osm_spark"


def _violations(tree: ast.AST) -> list[tuple[int, str]]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Assert):
            out.append((node.lineno, "assert statement"))
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name == "pandas_udf":
                out.append((node.lineno, "pandas_udf call"))
    return out


def test_engine_has_no_assert_and_no_pandas_udf():
    modules = sorted(PACKAGE.rglob("*.py"))
    assert modules
    found = [
        f"{path.relative_to(PACKAGE.parent)}:{line}: {what}"
        for path in modules
        for line, what in _violations(ast.parse(path.read_text(), str(path)))
    ]
    assert not found, "\n".join(found)
