"""One production path per operator: no implementation switches.

A parameter named `use_*` or `*_impl` selects between two implementations
of one operator, and the path its callers never select goes untested by
the user paths. Reference twins belong in `tests/` or in the registry's
DuckDB `oracle_sql()`, not behind a switch. This walks the AST of
`automem_spark/` and fails on any function parameter with such a name. No
Spark session is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def impl_switches(source: str) -> list[tuple[int, str, str]]:
    """(line, function, parameter) for every `use_*` / `*_impl` parameter
    of a function or lambda in ``source``."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        a = node.args
        params = a.posonlyargs + a.args + a.kwonlyargs + [p for p in (a.vararg, a.kwarg) if p]
        name = getattr(node, "name", "<lambda>")
        for p in params:
            if p.arg.startswith("use_") or p.arg.endswith("_impl"):
                hits.append((node.lineno, name, p.arg))
    return hits


def test_no_implementation_switches():
    found = [
        f"{path.relative_to(REPO)}:{line} {fn}({param}=)"
        for path in sorted((REPO / "automem_spark").rglob("*.py"))
        for line, fn, param in impl_switches(path.read_text())
    ]
    assert not found, "implementation switch parameters:\n" + "\n".join(found)


def test_lint_sees_switches():
    """The walk flags positional, keyword-only and nested parameters, and
    leaves look-alike names alone."""
    bad = (
        "def f(df, use_lsh=False):\n"
        "    def g(*, signature_impl='map'):\n"
        "        pass\n"
    )
    assert impl_switches(bad) == [(1, "f", "use_lsh"), (2, "g", "signature_impl")]
    ok = "def f(df, user_id, impl_note=None, reuse_cache=True):\n    pass\n"
    assert impl_switches(ok) == []
