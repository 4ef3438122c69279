"""One production blend: only the scoring modules read the blend's knobs.

The X1/X2 hybrid score is emitted once, by
`functions/scoring.py::hybrid_score_sql_spark` (its DuckDB oracle twin by
`functions/scorespec.py`). A second copy of the blend anywhere else in the
engine or the registry would have to read the recency window/curve, the
tag-denominator cap, the relevance gate, or the keyword/tag weights — and
could silently ignore one of them. This walks the AST of `automem_spark/`
and `__spark_entry__.py` and fails on any such read outside the two
scoring modules. No Spark session is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCORING_MODULES = {
    REPO / "automem_spark" / "functions" / "scoring.py",
    REPO / "automem_spark" / "functions" / "scorespec.py",
}
KNOBS = {"recency_window_days", "recency_curve", "tag_score_token_cap", "relevance_gate"}
BLEND_WEIGHTS = {"keyword", "tag"}
WEIGHTS_NAMES = {"w", "weights", "DEFAULT_WEIGHTS"}


def _is_weights(node: ast.expr) -> bool:
    """`w`, `weights`, `DEFAULT_WEIGHTS` or `<anything>.weights`."""
    if isinstance(node, ast.Name):
        return node.id in WEIGHTS_NAMES
    return isinstance(node, ast.Attribute) and node.attr == "weights"


def blend_reads(source: str) -> list[tuple[int, str]]:
    """(line, attribute) for every knob read and every `w.keyword` /
    `w.tag` read in ``source``."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Attribute) or not isinstance(node.ctx, ast.Load):
            continue
        if node.attr in KNOBS or (node.attr in BLEND_WEIGHTS and _is_weights(node.value)):
            hits.append((node.lineno, node.attr))
    return hits


def test_blend_knobs_read_only_by_scoring_modules():
    files = sorted((REPO / "automem_spark").rglob("*.py")) + [REPO / "__spark_entry__.py"]
    found = []
    for path in files:
        if path in SCORING_MODULES:
            continue
        for line, attr in blend_reads(path.read_text()):
            found.append(f"{path.relative_to(REPO)}:{line} reads .{attr}")
    assert not found, "hybrid blend outside functions/scoring.py:\n" + "\n".join(found)


def test_lint_sees_inline_blends():
    """The walk must flag the shapes an inline blend takes, and leave
    keyword arguments and unrelated `.tag` reads alone."""
    bad = (
        "final = F.lit(w.keyword) * kw + F.lit(w.tag) * tag\n"
        "if req.weights.relevance_gate > 0: pass\n"
        "rec = age / F.lit(w.recency_window_days)\n"
    )
    assert sorted(blend_reads(bad)) == [
        (1, "keyword"), (1, "tag"), (2, "relevance_gate"), (3, "recency_window_days")
    ]
    ok = "w2 = replace(DEFAULT_WEIGHTS, relevance_gate=0.5)\nx = row.tag\n"
    assert blend_reads(ok) == []
