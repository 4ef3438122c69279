"""Orphan guard: every ``automem_spark`` module must be reachable.

The walk starts at the two surfaces that use the engine, the benchmark's
workloads (``membench/workloads.py``) and the operator registry
(``__spark_entry__.py``), and follows every ``import`` / ``from`` statement
with ``ast``, including the imports inside function bodies. A module that
no walk reaches is dead code: delete it, or wire it to a workload or a
registry row. No Spark session is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ROOTS = [REPO / "membench" / "workloads.py", REPO / "__spark_entry__.py"]


def _module_file(name: str, search: list[Path]) -> Path | None:
    rel = Path(*name.split("."))
    for base in search:
        for cand in (base / rel.with_suffix(".py"), base / rel / "__init__.py"):
            if cand.is_file():
                return cand
    return None


def _imported_names(tree: ast.AST) -> set[str]:
    """Dotted module names an AST imports, with each package prefix and
    each ``from pkg import name`` that may be a submodule."""
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{alias.name}" for alias in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def reachable_files() -> set[Path]:
    seen: set[Path] = set()
    frontier = list(ROOTS)
    while frontier:
        path = frontier.pop()
        if path in seen:
            continue
        seen.add(path)
        # top-level names resolve from the repo root and, for the
        # benchmark's sibling modules (`import checks`), the file's own dir
        search = [REPO, path.parent]
        for name in _imported_names(ast.parse(path.read_text())):
            found = _module_file(name, search)
            if found is not None:
                frontier.append(found)
    return seen


def test_every_engine_module_is_reachable():
    modules = set((REPO / "automem_spark").rglob("*.py"))
    assert modules
    orphans = sorted(str(p.relative_to(REPO)) for p in modules - reachable_files())
    assert not orphans, f"unreachable from membench or the registry: {orphans}"


def test_walk_follows_function_level_imports(tmp_path, monkeypatch):
    """The walk must see a lazy import inside a function body (the registry
    style) and must not treat a docstring mention as an import."""
    tree = ast.parse(
        "def f():\n"
        "    '''see automem_spark.operators.graph'''\n"
        "    from automem_spark.operators import recall as R\n"
    )
    names = _imported_names(tree)
    assert "automem_spark.operators.recall" in names
    assert "automem_spark.operators.graph" not in names
