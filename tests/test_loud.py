"""Loud by default: no bare ``assert`` statement anywhere under
``prox_spark/`` (``python -O`` strips them, so a check written as one
silently vanishes in an optimized run). Every check raises a typed
error instead. Pure ``ast``; no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "prox_spark"


def _assert_lines(path: Path) -> list[int]:
    """Line numbers of the assert statements in ``path``."""
    tree = ast.parse(path.read_text(), str(path))
    return sorted(n.lineno for n in ast.walk(tree) if isinstance(n, ast.Assert))


def test_package_has_no_assert_statement():
    modules = sorted(PKG.rglob("*.py"))
    assert len(modules) > 40, modules  # the package and its queries
    hits = [
        f"{path.relative_to(PKG.parent)}:{line}"
        for path in modules
        for line in _assert_lines(path)
    ]
    assert hits == [], hits


def test_guard_sees_nested_asserts_not_docstrings(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(
        '"""assert the probe shape"""\n'
        "def f(x):\n"
        "    if x:\n"
        "        assert x > 0, 'neg'\n"
        "    return x\n"
    )
    assert _assert_lines(src) == [4]
