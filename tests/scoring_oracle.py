"""Column-tree reference twin of the X1/X2 hybrid blend.

The engine scores with ONE Spark-SQL emitter
(`automem_spark.functions.scoring.hybrid_score_sql_spark`). This module
keeps the blend as a plain Column tree, written term by term from the
reference (automem/utils/scoring.py:137-280), so the tests can pin the
emitter bit-identical to it (tests/test_hybrid_score_fast.py). It is a
test oracle only: no engine module imports it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from automem_spark.functions.scoring import DEFAULT_WEIGHTS, Weights


def content_tokens_expr(content: Column) -> Column:
    r"""`\b[a-z0-9]+\b` token set of lowercased content — the
    keyword-component fallback tokenizer (automem/utils/scoring.py:188-194).
    The word boundaries matter: underscore-joined content like `foo_bar`
    yields NO tokens (underscore is a word char, so no boundary exists),
    matching the reference."""
    return F.array_distinct(
        F.regexp_extract_all(F.lower(content), F.lit(r"\b[a-z0-9]+\b"), 0)
    )


def recency_score_expr(ts: Column, now: Column, w: Weights = DEFAULT_WEIGHTS) -> Column:
    """Linear `1 - age_days/window` floored at 0, or exp half-life
    `0.5^(age/window)` (scoring.py:66-81). Future timestamps -> 1.0."""
    age_days = (now.cast("double") - ts.cast("double")) / 86400.0
    age_days = F.greatest(age_days, F.lit(0.0))
    if w.recency_curve == "exp":
        score = F.pow(F.lit(0.5), age_days / w.recency_window_days)
    else:
        score = F.greatest(F.lit(0.0), F.lit(1.0) - age_days / w.recency_window_days)
    return F.when(ts.isNull(), F.lit(0.0)).otherwise(score)


def keyword_component_expr(
    match_type: Column, match_score: Column, content: Column, tokens: list[str]
) -> Column:
    """Keyword component: clamped match_score for keyword/trending matches,
    else content-token overlap fallback hits/len(tokens)
    (scoring.py:185-196)."""
    fallback = F.lit(0.0)
    if tokens:
        ctoks = content_tokens_expr(content)
        hits = sum(
            (F.array_contains(ctoks, t).cast("int") for t in tokens), F.lit(0)
        )
        fallback = F.when(
            F.length(F.coalesce(content, F.lit(""))) > 0, hits / F.lit(float(len(tokens)))
        ).otherwise(F.lit(0.0))
    return F.when(
        match_type.isin("keyword", "trending"),
        F.least(F.lit(1.0), F.coalesce(match_score, F.lit(0.0))),
    ).otherwise(fallback)


def tag_score_expr(tags: Column, tokens: list[str], w: Weights = DEFAULT_WEIGHTS) -> Column:
    """Token hits over lowercased tags / denominator (scoring.py:160-177).
    NULL tags count as no tags (without the coalesce, `least` would skip
    the NULL hit count and score 1.0)."""
    if not tokens:
        return F.lit(0.0)
    lower_tags = F.transform(
        F.coalesce(tags, F.array().cast("array<string>")), lambda t: F.lower(t)
    )
    hits = sum(
        (F.array_contains(lower_tags, t).cast("int") for t in tokens), F.lit(0)
    )
    if w.tag_score_token_cap > 0:
        denom = max(min(len(tokens), w.tag_score_token_cap), 1)
    else:
        denom = max(len(tokens), 1)
    return F.least(F.lit(1.0), hits / F.lit(float(denom)))


def hybrid_score_expr(
    *,
    match_type: Column,
    match_score: Column,
    content: Column,
    tags: Column,
    importance: Column,
    confidence: Column,
    timestamp: Column,
    now: Column,
    tokens: list[str],
    w: Weights = DEFAULT_WEIGHTS,
) -> Column:
    """The linear blend (scoring.py:250-262) without the components that
    are always zero here (relation, exact match, relevance):

    final = 0.35*vector + 0.35*keyword + 0.35*metadata + 0.2*tag
          + 0.1*importance + 0.05*confidence + 0.1*recency
    with per-component gating:
      vector component only when match_type='vector';
      metadata component only when match_type='metadata';
      keyword: see keyword_component_expr.
    """
    zero = F.lit(0.0)
    vector_c = F.when(match_type == "vector", F.coalesce(match_score, zero)).otherwise(zero)
    keyword_c = keyword_component_expr(match_type, match_score, content, tokens)
    metadata_c = F.when(match_type == "metadata", F.coalesce(match_score, zero)).otherwise(zero)
    tag_c = tag_score_expr(tags, tokens, w)
    importance_c = F.coalesce(importance.cast("double"), zero)
    confidence_c = F.coalesce(confidence.cast("double"), zero)
    recency_c = recency_score_expr(timestamp, now, w)

    # Within-pool relevance gate (scoring.py:229-236): when evidence
    # (max of query-topical components) < gate, linearly ramp down the
    # query-independent components.
    if tokens and w.relevance_gate > 0:
        evidence = F.greatest(vector_c, keyword_c, metadata_c)
        scale = F.when(
            evidence < F.lit(w.relevance_gate), evidence / F.lit(w.relevance_gate)
        ).otherwise(F.lit(1.0))
        importance_c = importance_c * scale
        confidence_c = confidence_c * scale
        recency_c = recency_c * scale
        tag_c = tag_c * scale

    return (
        F.lit(w.vector) * vector_c
        + F.lit(w.keyword) * keyword_c
        + F.lit(w.metadata) * metadata_c
        + F.lit(w.tag) * tag_c
        + F.lit(w.importance) * importance_c
        + F.lit(w.confidence) * confidence_c
        + F.lit(w.recency) * recency_c
    )
