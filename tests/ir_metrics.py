"""IR quality metrics — twin of the reference's recall-quality lab
(scripts/lab/lab_metrics.py:11-58): recall@K, MRR, NDCG@K, distractor rate.

Two forms: pure-Python per-query functions (golden-ranking regression tests)
and a DataFrame aggregate for scoring a whole (query_id, retrieved ranking)
result set against an expectations table in one job. Evaluation tooling
for the golden-ranking and QA gates, not an engine operator, so it lives
beside them in tests/.
"""

from __future__ import annotations

import math
from collections.abc import Iterable
from statistics import fmean, stdev

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def recall_at_k(retrieved_ids: list, expected_ids: list, k: int) -> float:
    if not expected_ids:
        return 0.0
    top_k = set(retrieved_ids[:k])
    return sum(1 for e in expected_ids if e in top_k) / len(expected_ids)


def mrr(retrieved_ids: list, expected_ids: list) -> float:
    expected = set(expected_ids)
    for i, rid in enumerate(retrieved_ids):
        if rid in expected:
            return 1.0 / (i + 1)
    return 0.0


def ndcg_at_k(retrieved_ids: list, expected_ids: list, k: int) -> float:
    expected = set(expected_ids)
    dcg = sum(
        1.0 / math.log2(i + 2) for i, rid in enumerate(retrieved_ids[:k]) if rid in expected
    )
    ideal = sum(1.0 / math.log2(i + 2) for i in range(min(len(expected_ids), k)))
    return dcg / ideal if ideal > 0 else 0.0


def distractor_rate_at_k(retrieved_ids: list, distractor_ids: Iterable, k: int) -> float:
    if k <= 0:
        return 0.0
    top_k = retrieved_ids[:k]
    if not top_k:
        return 0.0
    dset = set(distractor_ids)
    return sum(1 for rid in top_k if rid in dset) / len(top_k)


def paired_ttest(a: list[float], b: list[float]) -> dict:
    """Paired significance test between two per-query metric series
    (twin of scripts/lab/lab_metrics.py:58-111): t statistic on the
    per-query differences, a normal-approximation two-sided p-value,
    Cohen's d on the pooled spread, and the conventional effect-size
    label (0.2 / 0.5 / 0.8). Pure Python — the series are per-query
    scalars, never distributed data."""
    n = len(a)
    if n < 2 or n != len(b):
        return {
            "t_stat": 0.0,
            "p_value": 1.0,
            "cohens_d": 0.0,
            "effect_size": "negligible",
            "significant": False,
            "mean_diff": 0.0,
        }
    diffs = [y - x for x, y in zip(a, b)]
    mean_diff = fmean(diffs)
    sd_diff = stdev(diffs) or 1e-10
    t_stat = mean_diff / (sd_diff / math.sqrt(n))
    # two-sided p under the normal approximation (no scipy in the container)
    p_value = 2.0 * (1.0 - 0.5 * (1.0 + math.erf(abs(t_stat) / math.sqrt(2.0))))

    mean_a, mean_b = fmean(a), fmean(b)
    ss = sum((x - mean_a) ** 2 for x in a) + sum((y - mean_b) ** 2 for y in b)
    pooled = math.sqrt(ss / (2 * n - 2))
    d = (mean_b - mean_a) / pooled if pooled > 0 else 0.0
    label = (
        "large"
        if abs(d) >= 0.8
        else "medium" if abs(d) >= 0.5 else "small" if abs(d) >= 0.2 else "negligible"
    )
    return {
        "t_stat": round(t_stat, 4),
        "p_value": round(p_value, 6),
        "cohens_d": round(d, 4),
        "effect_size": label,
        "significant": p_value < 0.05,
        "mean_diff": round(mean_diff, 4),
    }


def pick_winner(
    cards: list[dict],
    *,
    baseline_name: str,
    ndcg_tol: float = 0.005,
    distractor_tol: float = 0.01,
) -> dict:
    """The lab's scorecard decision rule (scripts/lab/lab_metrics.py:145+,
    docs/RECALL_QUALITY_LAB.md): among config scorecards — dicts with
    name / ndcg_10 / distractor_rate_10 / complexity / latency_ms — take
    the best NDCG@10 that does not regress distractor precision past the
    baseline + distractor_tol, and break NDCG ties (within ndcg_tol)
    toward fewer active knobs, then lower latency. The baseline is always
    its own eligible contender, so the rule can never pick nothing."""
    if distractor_tol < 0:
        raise ValueError("distractor_tol must be >= 0 (the baseline must stay eligible)")
    by_name = {c["name"]: c for c in cards}
    if baseline_name not in by_name:
        raise ValueError(f"baseline_name {baseline_name!r} not found among cards")
    ceiling = by_name[baseline_name]["distractor_rate_10"] + distractor_tol
    eligible = [c for c in cards if c["distractor_rate_10"] <= ceiling]
    best = max(c["ndcg_10"] for c in eligible)
    contenders = [c for c in eligible if c["ndcg_10"] >= best - ndcg_tol]
    winner = dict(min(contenders, key=lambda c: (c["complexity"], c["latency_ms"])))
    if winner["name"] == baseline_name:
        # the record must say WHY the baseline stood: outright (nothing
        # tied it) vs on the simplicity/latency tie-break over a contender
        # with nominally better NDCG
        if len(contenders) > 1:
            winner["reason"] = (
                "baseline kept on the complexity/latency tie-break "
                f"(NDCG ties within {ndcg_tol})"
            )
        else:
            winner["reason"] = (
                "no candidate beat baseline NDCG@10 without precision regression"
            )
    else:
        winner["reason"] = (
            f"best NDCG@10 within tolerance, lowest complexity "
            f"({winner['complexity']}) and latency ({winner['latency_ms']:.0f}ms)"
        )
    return winner


def lab_decision(
    cards: list[dict],
    *,
    baseline_name: str,
    alpha: float = 0.05,
    **pick_kwargs,
) -> dict:
    """The lab's FULL decision workflow (docs/RECALL_QUALITY_LAB.md §Metrics:
    "trust a config change only when the paired comparison (step 4) clears
    the noise band"): apply the scorecard rule (:func:`pick_winner`), then —
    if a challenger displaces the baseline — a paired t-test on the two
    per-question quality series (each card's ``qualities`` list). A
    challenger whose mean win does not clear the noise band (p >= alpha)
    is NOT trusted: the baseline stands, with the failed comparison
    recorded on the returned card."""
    winner = pick_winner(cards, baseline_name=baseline_name, **pick_kwargs)
    if winner["name"] == baseline_name:
        return winner
    by_name = {c["name"]: c for c in cards}
    test = paired_ttest(
        by_name[baseline_name]["qualities"], by_name[winner["name"]]["qualities"]
    )
    if test["p_value"] < alpha and test["mean_diff"] > 0:
        winner["paired_vs_baseline"] = test
        return winner
    kept = dict(by_name[baseline_name])
    kept["paired_vs_baseline"] = test
    kept["reason"] = (
        f"challenger {winner['name']!r} won the scorecard but did not clear "
        f"the noise band (p={test['p_value']}, alpha={alpha}); baseline stands"
    )
    return kept


def ir_metrics_df(
    results: DataFrame,
    expectations: DataFrame,
    k: int = 10,
    *,
    query_col: str = "query_id",
    id_col: str = "id",
    rank_col: str = "rank",
    expected_col: str = "expected_ids",
) -> DataFrame:
    """Batch metrics: results (query_id, id, rank) × expectations
    (query_id, expected_ids array) -> per-query recall@k / mrr / ndcg@k.
    One join + one groupBy — evaluates thousands of queries in one pass."""
    exp = expectations.select(query_col, expected_col)
    joined = results.join(F.broadcast(exp), query_col)
    hit = F.array_contains(F.col(expected_col), F.col(id_col))
    per_row = joined.select(
        query_col,
        F.col(rank_col).alias("rank"),
        hit.alias("hit"),
        F.size(F.col(expected_col)).alias("n_expected"),
    )
    agg = per_row.groupBy(query_col).agg(
        F.max("n_expected").alias("n_expected"),
        F.sum(F.when((F.col("rank") <= k) & F.col("hit"), 1).otherwise(0)).alias("hits_at_k"),
        F.min(F.when(F.col("hit"), F.col("rank"))).alias("first_hit_rank"),
        F.sum(
            F.when(
                (F.col("rank") <= k) & F.col("hit"),
                1.0 / F.log2(F.col("rank").cast("double") + 1.0),
            ).otherwise(0.0)
        ).alias("dcg"),
    )
    ideal = F.expr(
        f"aggregate(sequence(1, least(n_expected, {k})), cast(0.0 as double),"
        " (acc, i) -> acc + 1.0 / log2(cast(i as double) + 1.0))"
    )
    return agg.select(
        query_col,
        (F.col("hits_at_k") / F.col("n_expected")).alias("recall_at_k"),
        F.coalesce(1.0 / F.col("first_hit_rank"), F.lit(0.0)).alias("mrr"),
        F.when(ideal > 0, F.col("dcg") / ideal).otherwise(0.0).alias("ndcg_at_k"),
    )
