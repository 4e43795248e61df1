"""No module in the engine package or in tests/ imports a name it never
uses. A function-level import must be used inside that function; a
module-level one anywhere in the module. Names listed in ``__all__`` and
lines marked ``# noqa`` (imports kept for their side effects) count as
used."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _unused_imports(path: Path) -> list[str]:
    src = path.read_text()
    tree = ast.parse(src, str(path))
    lines = src.splitlines()
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    exported = {
        elt.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "__all__" for t in node.targets)
        for elt in getattr(node.value, "elts", [])
        if isinstance(elt, ast.Constant)
    }
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if getattr(node, "module", None) == "__future__" or "noqa" in lines[node.lineno - 1]:
            continue
        scope = parent[node]
        while not isinstance(scope, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = parent[scope]
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)} | exported
        for alias in node.names:
            name = (alias.asname or alias.name).split(".")[0]
            if name not in used:
                found.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    return found


def test_no_unused_imports():
    paths = sorted((ROOT / "stock_market_big_data_project_spark").rglob("*.py"))
    paths += sorted((ROOT / "tests").glob("*.py"))
    found = [hit for path in paths for hit in _unused_imports(path)]
    assert not found, "\n".join(found)
