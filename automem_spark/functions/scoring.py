"""Hybrid recall scoring and the consolidation scores.

Reimplements the reference's ~11-component linear score
(automem/utils/scoring.py:137-280; weights automem/config.py:473-482) as
ONE Spark-SQL emitter, `hybrid_score_sql_spark`, that every recall path
parses with a single `F.expr` — the entire re-rank runs JVM-side, no Python
in the hot path. Component gating rules (X2 in SURVEY.md §2.8) are CASE
exprs. The Column-tree reference twin lives in tests/scoring_oracle.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from automem_spark.functions.text import assert_sql_literal_safe


@dataclass(frozen=True)
class Weights:
    """Score weights (reference defaults, automem/config.py:473-482)."""

    vector: float = 0.35
    keyword: float = 0.35
    metadata: float = 0.35
    tag: float = 0.2
    importance: float = 0.1
    confidence: float = 0.05
    recency: float = 0.1
    # context-bonus sub-weights (scoring.py:84-134)
    context_tag: float = 0.45
    context_type: float = 0.25
    context_keyword: float = 0.2
    context_anchor: float = 0.9
    # knobs
    recency_window_days: float = 180.0
    recency_curve: str = "linear"  # or "exp" (half-life)
    tag_score_token_cap: int = 0  # 0 = legacy full-length denominator
    relevance_gate: float = 0.0  # 0 = off (legacy bit-identical)


#: The SHIPPED blend (r13): recency 0.15 / importance 0.05, vs the
#: reference's 0.10/0.10 field defaults above (which stay on the Weights
#: dataclass as the documented reference values — `Weights()` IS the
#: legacy blend, kept as the `legacy_blend` lab candidate). The reference
#: exposes every one of these as an env knob (SEARCH_WEIGHT_*,
#: automem/config.py:473-482); this rebalance is the lab-decision outcome
#: of the r12 XL headroom ask: on the 393-question XL gate it takes
#: near_dup 9/15 -> 15/15 and the floor 0.888 -> 0.903 with ZERO
#: regressions in any other category (full-config sweep:
#: scripts/xl_weight_sweep.py; lab gate: tests/test_qa_accuracy.py::
#: test_shipped_config_is_lab_decision_choice — the legacy blend must
#: now LOSE to this one under pick_winner + the paired noise band).
DEFAULT_WEIGHTS = Weights(recency=0.15, importance=0.05)


def context_bonus_expr(
    *,
    tags: Column,
    mem_type: Column,
    mem_id: Column,
    priority_tags: list[str] | None = None,
    priority_types: list[str] | None = None,
    priority_ids: list[str] | None = None,
    w: Weights = DEFAULT_WEIGHTS,
) -> Column:
    """X5 context bonus (scoring.py:84-134): +0.45 priority-tag hit (exact /
    prefix / substring after :-canonicalization), +0.25 type hit (title-cased
    compare), +0.9 anchor id hit. (priority_keywords needs metadata terms —
    wired in with the metadata channel.)"""
    import re as _re

    bonus: Column = F.lit(0.0)
    if priority_tags:
        canon_tags = F.transform(
            tags, lambda t: F.regexp_replace(F.lower(t), "[:/]+", ":")
        )
        def tag_pred(cp: str):
            return lambda t: (t == cp) | t.startswith(cp) | t.contains(cp)

        hit: Column = F.lit(False)
        for p in priority_tags:
            cp = _re.sub(r"[:/]+", ":", p.strip().lower())
            hit = hit | F.exists(canon_tags, tag_pred(cp))
        bonus = bonus + F.when(hit, F.lit(w.context_tag)).otherwise(F.lit(0.0))
    if priority_types:
        titled = [t.strip().title() for t in priority_types]
        bonus = bonus + F.when(
            F.initcap(F.trim(mem_type)).isin(*titled), F.lit(w.context_type)
        ).otherwise(F.lit(0.0))
    if priority_ids:
        bonus = bonus + F.when(
            mem_id.cast("string").isin(*[str(i) for i in priority_ids]),
            F.lit(w.context_anchor),
        ).otherwise(F.lit(0.0))
    return bonus


def token_array_sql(tokens: list[str]) -> str:
    """Driver-side query tokens as a Spark-SQL array literal, the
    ``tokens_sql`` argument of `hybrid_score_sql_spark` for single-query
    scoring. Each token passes the charset contract at this interpolation
    site (they land inside single-quoted literals)."""
    if not tokens:
        return "CAST(array() AS ARRAY<STRING>)"
    return "array(" + ", ".join(
        f"'{assert_sql_literal_safe(t, 'query token')}'" for t in tokens
    ) + ")"


def hybrid_score_sql_spark(
    tokens_sql: str, now: str, w: Weights = DEFAULT_WEIGHTS
) -> str:
    """The X1 linear blend (scoring.py:250-262) as Spark-SQL text — the one
    production scorer; every caller wraps it in a single `F.expr`.

    final = 0.35*vector + 0.35*keyword + 0.35*metadata + 0.2*tag
          + 0.1*importance + 0.05*confidence + 0.1*recency
    over the candidate columns `match_type`, `match_score`, `content`,
    `tags`, `importance`, `confidence`, `timestamp`. The reference's
    relation, exact-match and relevance components are always zero on
    every path here, so they are not emitted (adding 0.0 is FP-neutral).

    X2 gating: the vector/metadata components count only for rows that
    channel matched; the keyword component is min(1, match_score) for
    keyword/trending matches, else the content-token overlap
    hits/|tokens| (scoring.py:185-196). The tag component is tag hits over
    |tokens|, or over min(|tokens|, cap) with `tag_score_token_cap`; NULL
    `tags` count as no tags. X3 recency is linear or exp half-life. The
    X4 gate (scoring.py:229-236), when `relevance_gate` > 0 and the query
    has tokens, ramps the query-independent components down by
    evidence/gate where evidence = max(vector, keyword, metadata) < gate.

    ``tokens_sql`` is an ARRAY<STRING> expression: a column (`tokens` in
    multi-query recall) or `token_array_sql(tokens)`. Let-bindings
    (`ctoks`, `ltags`) evaluate the content tokenizer and the tag
    lowering once per row — Catalyst does no CSE across higher-order
    function arguments. Every numeric operand is DOUBLE in the reference
    twin's association order; tests/scoring_oracle.py keeps that Column
    twin and tests/test_hybrid_score_fast.py pins the two bit-identical."""
    assert_sql_literal_safe(now, "now timestamp")

    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    def hits(arr: str) -> str:
        return (
            f"aggregate({tokens_sql}, 0,"
            f" (acc, qt) -> acc + CAST(array_contains({arr}, qt) AS INT))"
        )

    n_tokens = f"size({tokens_sql})"
    tag_n = n_tokens
    if w.tag_score_token_cap > 0:
        tag_n = f"least({n_tokens}, {w.tag_score_token_cap})"
    vector_c = (
        "(CASE WHEN `match_type` = 'vector' THEN"
        f" coalesce(`match_score`, {d(0.0)}) ELSE {d(0.0)} END)"
    )
    metadata_c = (
        "(CASE WHEN `match_type` = 'metadata' THEN"
        f" coalesce(`match_score`, {d(0.0)}) ELSE {d(0.0)} END)"
    )
    keyword_c = (
        "(CASE WHEN `match_type` IN ('keyword', 'trending') THEN"
        f" least({d(1.0)}, coalesce(`match_score`, {d(0.0)}))"
        " ELSE (CASE WHEN length(coalesce(`content`, '')) > 0 THEN"
        f" {hits('ctoks')} / CAST(greatest({n_tokens}, 1) AS DOUBLE)"
        f" ELSE {d(0.0)} END) END)"
    )
    tag_c = (
        f"least({d(1.0)}, {hits('ltags')} / CAST(greatest({tag_n}, 1) AS DOUBLE))"
    )
    importance_c = f"coalesce(CAST(`importance` AS DOUBLE), {d(0.0)})"
    confidence_c = f"coalesce(CAST(`confidence` AS DOUBLE), {d(0.0)})"
    now_d = f"CAST(CAST('{now}' AS TIMESTAMP) AS DOUBLE)"
    age = (
        f"greatest(({now_d} - CAST(`timestamp` AS DOUBLE)) / {d(86400.0)},"
        f" {d(0.0)})"
    )
    if w.recency_curve == "exp":
        rec = f"power({d(0.5)}, {age} / {d(w.recency_window_days)})"
    else:
        rec = f"greatest({d(0.0)}, {d(1.0)} - {age} / {d(w.recency_window_days)})"
    recency_c = f"(CASE WHEN `timestamp` IS NULL THEN {d(0.0)} ELSE {rec} END)"
    if w.relevance_gate > 0:
        gate = d(w.relevance_gate)
        evidence = f"greatest({vector_c}, {keyword_c}, {metadata_c})"
        scale = (
            f"(CASE WHEN {n_tokens} > 0 AND {evidence} < {gate}"
            f" THEN {evidence} / {gate} ELSE {d(1.0)} END)"
        )
        tag_c, importance_c, confidence_c, recency_c = (
            f"({c} * {scale})" for c in (tag_c, importance_c, confidence_c, recency_c)
        )
    final = (
        f"{d(w.vector)} * {vector_c}"
        f" + {d(w.keyword)} * {keyword_c}"
        f" + {d(w.metadata)} * {metadata_c}"
        f" + {d(w.tag)} * {tag_c}"
        f" + {d(w.importance)} * {importance_c}"
        f" + {d(w.confidence)} * {confidence_c}"
        f" + {d(w.recency)} * {recency_c}"
    )
    ctoks = (
        "array_distinct(regexp_extract_all(lower(`content`),"
        " '\\\\b[a-z0-9]+\\\\b', 0))"
    )
    ltags = "transform(coalesce(`tags`, array()), tg -> lower(tg))"
    return (
        f"element_at(transform(array({ctoks}), ctoks ->"
        f" element_at(transform(array({ltags}), ltags -> {final}), 1)), 1)"
    )


def decay_relevance_expr(
    *,
    timestamp: Column,
    last_accessed: Column,
    importance: Column,
    confidence: Column,
    rel_count: Column,
    now: Column,
) -> Column:
    """Consolidation decay score (consolidation.py:227-282):

    exp(-0.01*age_days) * (0.3 + 0.3*access_factor)
      * (1 + 0.3*ln(1+rel_count)) * (0.5+importance) * (0.7+0.3*confidence)
    floored at importance*0.3, capped 1.0;
    access_factor = 1 if accessed <1d else exp(-0.05*days_since_access).

    rel_count comes from edges.groupBy(src).count() — a single distributed
    agg replacing the reference's per-row lru_cache (consolidation.py:201-225).
    """
    age_days = F.greatest((now.cast("double") - timestamp.cast("double")) / 86400.0, F.lit(0.0))
    days_since_access = F.greatest(
        (now.cast("double") - last_accessed.cast("double")) / 86400.0, F.lit(0.0)
    )
    access_factor = F.when(last_accessed.isNull(), F.lit(0.0)).otherwise(
        F.when(days_since_access < 1.0, F.lit(1.0)).otherwise(
            F.exp(F.lit(-0.05) * days_since_access)
        )
    )
    imp = F.coalesce(importance.cast("double"), F.lit(0.5))
    conf = F.coalesce(confidence.cast("double"), F.lit(0.5))
    rels = F.coalesce(rel_count.cast("double"), F.lit(0.0))
    score = (
        F.exp(F.lit(-0.01) * age_days)
        * (F.lit(0.3) + F.lit(0.3) * access_factor)
        * (F.lit(1.0) + F.lit(0.3) * F.log(F.lit(1.0) + rels))
        * (F.lit(0.5) + imp)
        * (F.lit(0.7) + F.lit(0.3) * conf)
    )
    return F.least(F.greatest(score, imp * F.lit(0.3)), F.lit(1.0))


def protection_expr(
    *,
    protected: Column,
    importance: Column,
    timestamp: Column,
    mem_type: Column,
    now: Column,
    importance_threshold: float = 0.7,
    grace_days: float = 90.0,
    protected_types: tuple[str, ...] = ("Decision", "Insight"),
) -> Column:
    """Forgetting protection predicate (consolidation.py:284-332):
    explicit flag OR importance>=0.7 OR age<90d OR type in {Decision,Insight}."""
    age_days = (now.cast("double") - timestamp.cast("double")) / 86400.0
    return (
        F.coalesce(protected, F.lit(False))
        | (F.coalesce(importance.cast("double"), F.lit(0.0)) >= importance_threshold)
        | (age_days < grace_days)
        | mem_type.isin(*protected_types)
    )
