"""The library never imports the query layer: every module directly
under ``prox_spark/`` (not ``prox_spark/queries/``) is parsed, and an
import of ``prox_spark.queries`` anywhere in it — module-level or
inside a function — fails. Pure ``ast``; no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "prox_spark"


def _imported_modules(node: ast.AST) -> list[str]:
    """Absolute names of the modules an import statement binds from."""
    if isinstance(node, ast.Import):
        return [a.name for a in node.names]
    if not isinstance(node, ast.ImportFrom):
        return []
    base = "prox_spark" if node.level else ""
    mod = ".".join(p for p in (base, node.module or "") if p)
    # `from prox_spark import queries` / `from . import queries`
    return [mod] + [f"{mod}.{a.name}" for a in node.names]


def _query_imports(path: Path) -> list[str]:
    """``file:line module`` for each statement importing the query layer."""
    hits = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        for mod in _imported_modules(node):
            if mod == "prox_spark.queries" or mod.startswith("prox_spark.queries."):
                hits.append((node.lineno, f"{path.name}:{node.lineno} {mod}"))
                break
    return [hit for _, hit in sorted(hits)]


def test_library_never_imports_the_query_layer():
    modules = sorted(PKG.glob("*.py"))
    assert len(modules) > 20, modules  # the package, not an empty glob
    hits = [hit for path in modules for hit in _query_imports(path)]
    assert hits == [], hits


def test_guard_sees_nested_and_relative_imports(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(
        "def f():\n"
        "    from prox_spark.queries.text import x\n"
        "    from .queries import search\n"
        "    from . import queries\n"
        "from prox_spark.table import read_table\n"
    )
    assert _query_imports(src) == [
        "mod.py:2 prox_spark.queries.text",
        "mod.py:3 prox_spark.queries",
        "mod.py:4 prox_spark.queries",
    ]
