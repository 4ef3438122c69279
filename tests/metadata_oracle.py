"""Column-tree reference twin of the R5 metadata sidecar scorer.

The engine scores metadata with ONE Spark-SQL expression
(`automem_spark.operators.metadata_search.metadata_score_expr_fast`, emitted
from the shared spec/generator that also emits the DuckDB oracle text).
This module keeps the scorer as a plain Column tree, written from the
reference (automem/search/runtime_recall_helpers.py:270-340), so the tests
can pin the SQL scorer bit-identical to it (tests/test_metadata_search.py).
It is a test oracle only: no engine module imports it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from automem_spark.operators.metadata_search import (
    ascii_search_text,
    query_value_tokens,
    requested_metadata_fields,
)


def _fold_expr(col: Column) -> Column:
    """ASCII-fold column twin (values are ASCII in our corpora; non-ASCII
    dropped like the reference's encode('ascii','ignore'))."""
    t = F.regexp_replace(col.cast("string"), r"[^\x00-\x7F]", "")
    t = F.regexp_replace(t, r"[^A-Za-z0-9]+", " ")
    return F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))


def metadata_score_expr(
    fields: dict[str, Column], query_text: str
) -> Column:
    """Best per-field sidecar score for one query (scorer :270-340)."""
    qvt = query_value_tokens(query_text)
    if not qvt:
        return F.lit(0.0)
    requested = requested_metadata_fields(query_text)
    nq = ascii_search_text(query_text)

    per_field: list[Column] = []
    for field, col in fields.items():
        value_text = _fold_expr(col)
        vt = F.filter(F.split(value_text, " "), lambda t: F.length(t) >= 2)
        n_vt = F.size(vt)
        hit_flags = [F.array_contains(vt, tok) for tok in qvt]
        n_hits = sum((h.cast("int") for h in hit_flags), F.lit(0))
        exact_hit = (value_text != "") & (F.instr(F.lit(nq), value_text) > 0)
        field_requested = field in requested

        # length of the single hit (valid only when n_hits == 1)
        hit_len = F.greatest(
            *[F.when(h, F.lit(len(tok))).otherwise(F.lit(0)) for tok, h in zip(qvt, hit_flags)]
        ) if len(qvt) > 1 else F.when(hit_flags[0], F.lit(len(qvt[0]))).otherwise(F.lit(0))

        strong = (
            ((n_vt > 1) & (n_hits >= F.least(F.lit(2), n_vt)))
            | (
                (n_hits == 1)
                & (
                    (F.lit(field_requested and bool(requested)) & exact_hit & (hit_len >= 3))
                    | ((hit_len >= 5) & F.lit(field_requested and bool(requested)))
                    | ((hit_len >= 5) & exact_hit & F.lit(len(qvt) <= 3))
                )
            )
        )
        gate = (value_text != "") & (n_vt > 0) & (n_hits > 0) & strong
        # repo rule: non-exact repo matches must cover all query value tokens
        if field == "repo" and "repo" in requested:
            covers_all = F.lit(True)
            for h in hit_flags:
                covers_all = covers_all & h
            gate = gate & (exact_hit | covers_all)
        # requested-but-other-field rule
        if requested and not field_requested:
            gate = gate & (n_hits >= 2)

        value_ratio = n_hits.cast("double") / F.greatest(n_vt, F.lit(1)).cast("double")
        query_ratio = n_hits.cast("double") / F.lit(float(max(len(qvt), 1)))
        score = F.least(
            F.lit(1.0),
            F.lit(0.15)
            + 0.45 * value_ratio
            + 0.20 * query_ratio
            + F.when(exact_hit, F.lit(0.15)).otherwise(F.lit(0.0))
            + F.lit(0.20 if (requested and field_requested) else 0.0),
        )
        if requested and not field_requested:
            score = score * 0.6
        per_field.append(F.when(gate, score).otherwise(F.lit(0.0)))

    return F.greatest(*per_field) if len(per_field) > 1 else per_field[0]
