"""SURVEY §5(3) golden-ranking quality anchor: the committed ranked-id file
(tests/golden/recall_rankings.json, regenerated only via
scripts/make_golden_rankings.py) pins the end-to-end hybrid recall ranking
on the deterministic fixture corpus. Any recall-semantics regression flips
the exact-match assertion; the NDCG@10 gate (reference recall-quality lab,
scripts/lab/lab_metrics.py:11-58) grades how far a ranking drifted and
exercises the ir_metrics twins — both pure-Python and the one-job
DataFrame aggregate."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ir_metrics import ir_metrics_df, mrr, ndcg_at_k, recall_at_k
from automem_spark.functions.vector import placeholder_embedding, placeholder_embedding_udf
from automem_spark.operators.recall import RecallRequest, recall

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden", "recall_rankings.json")


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def rankings(spark, golden):
    """Run every golden query once; reuse across assertions."""
    from automem_spark.sources.tables import memories_view

    mem = memories_view(spark, golden["sf_dir"]).withColumn(
        "embedding", placeholder_embedding_udf(golden["dim"])(F.col("content"))
    )
    out = {}
    for q in golden["rankings"]:
        qvec = placeholder_embedding(q, golden["dim"])
        rows = recall(
            mem, RecallRequest(query=q, limit=golden["k"]), query_vector=qvec
        ).collect()
        out[q] = rows
    return out


def test_exact_golden_ranking(golden, rankings):
    for q, pinned in golden["rankings"].items():
        got = [int(r.id) for r in rankings[q]]
        assert got == pinned["ids"], f"ranking drifted for {q!r}"
        assert [r.match_type for r in rankings[q]] == pinned["match_types"], q
        got_scores = [round(float(r.final_score), 6) for r in rankings[q]]
        assert got_scores == pytest.approx(pinned["final_scores"], abs=1e-6), q


def test_ndcg_gate_pure_python(golden, rankings):
    k = golden["k"]
    for q, pinned in golden["rankings"].items():
        got = [int(r.id) for r in rankings[q]]
        assert ndcg_at_k(got, pinned["ids"], k) >= golden["min_ndcg"], q
        assert recall_at_k(got, pinned["ids"], k) >= golden["min_ndcg"], q
        assert mrr(got, pinned["ids"]) == 1.0, q


def test_ndcg_gate_dataframe_aggregate(spark, golden, rankings):
    """The same gate through the one-job DataFrame evaluator — scores all
    queries in one pass, the shape a large eval suite would use."""
    res_rows = [
        (q, int(r.id), i + 1)
        for q, rows in rankings.items()
        for i, r in enumerate(rows)
    ]
    results = spark.createDataFrame(res_rows, "query_id string, id long, rank long")
    exp_rows = [(q, pinned["ids"]) for q, pinned in golden["rankings"].items()]
    expectations = spark.createDataFrame(exp_rows, "query_id string, expected_ids array<long>")
    got = {
        r.query_id: r
        for r in ir_metrics_df(results, expectations, k=golden["k"]).collect()
    }
    assert set(got) == set(golden["rankings"])
    eps = 1e-9  # float-sum DCG/IDCG roundoff
    for q, m in got.items():
        assert m.ndcg_at_k >= golden["min_ndcg"] - eps, q
        assert m.recall_at_k >= golden["min_ndcg"] - eps, q
        assert m.mrr == 1.0, q


def test_distractor_guardrail(spark, golden, rankings):
    """lab_metrics.py:40-56 distractor rate: archived and MetaPattern rows
    are labelled never-relevant (every search path must drop them) — a
    nonzero distractor@k means pool filtering regressed."""
    from ir_metrics import distractor_rate_at_k
    from automem_spark.sources.tables import memories_view

    distractors = {
        r.id
        for r in memories_view(spark, golden["sf_dir"])
        .filter(F.col("archived") | (F.col("type") == "MetaPattern"))
        .select("id")
        .collect()
    }
    assert distractors  # fixture plants them
    for q, rows in rankings.items():
        got = [int(r.id) for r in rows]
        assert distractor_rate_at_k(got, distractors, golden["k"]) == 0.0, q


def test_paired_ttest_basics():
    """lab_metrics.py:58-111 twin: degenerate inputs are inert, identical
    series are insignificant, a consistent improvement is significant with
    the conventional effect label."""
    from ir_metrics import paired_ttest

    inert = paired_ttest([1.0], [2.0])
    assert not inert["significant"] and inert["p_value"] == 1.0

    same = [0.8, 0.9, 0.7, 0.85, 0.95]
    flat = paired_ttest(same, list(same))
    assert not flat["significant"] and flat["mean_diff"] == 0.0

    better = [x + 0.1 + 0.01 * i for i, x in enumerate(same)]
    up = paired_ttest(same, better)
    assert up["significant"] and up["t_stat"] > 0 and up["mean_diff"] > 0
    assert up["effect_size"] in {"medium", "large"}
    # symmetry: swapping the series flips the direction
    down = paired_ttest(better, same)
    assert down["t_stat"] == pytest.approx(-up["t_stat"], abs=1e-9)


def test_pick_winner_scorecard_rule():
    """lab_metrics.py:145+ decision rule: precision guardrail first, then
    NDCG, then fewer knobs, then latency; the baseline always survives."""
    from ir_metrics import pick_winner

    cards = [
        {"name": "baseline", "ndcg_10": 0.90, "distractor_rate_10": 0.00,
         "complexity": 3, "latency_ms": 200.0},
        # better NDCG but regresses precision past tolerance -> ineligible
        {"name": "leaky", "ndcg_10": 0.97, "distractor_rate_10": 0.10,
         "complexity": 2, "latency_ms": 150.0},
        # ties baseline within tolerance, fewer knobs -> wins the tie
        {"name": "simpler", "ndcg_10": 0.898, "distractor_rate_10": 0.005,
         "complexity": 1, "latency_ms": 180.0},
    ]
    w = pick_winner(cards, baseline_name="baseline")
    assert w["name"] == "simpler" and "complexity" in w["reason"]
    # without the simpler contender, nothing beats baseline
    w2 = pick_winner([cards[0], cards[1]], baseline_name="baseline")
    assert w2["name"] == "baseline"
    assert w2["reason"].startswith("no candidate")
    # baseline keeping the crown on the tie-break must say so, not claim
    # nothing tied it
    tied = [
        {"name": "baseline", "ndcg_10": 0.900, "distractor_rate_10": 0.0,
         "complexity": 1, "latency_ms": 100.0},
        {"name": "fancier", "ndcg_10": 0.903, "distractor_rate_10": 0.0,
         "complexity": 5, "latency_ms": 100.0},
    ]
    w3 = pick_winner(tied, baseline_name="baseline")
    assert w3["name"] == "baseline" and "tie-break" in w3["reason"]
    with pytest.raises(ValueError, match="distractor_tol"):
        pick_winner(tied, baseline_name="baseline", distractor_tol=-0.1)
    with pytest.raises(ValueError):
        pick_winner(cards, baseline_name="missing")


def test_lab_paired_comparison_defends_baseline(spark, golden, rankings):
    """The RECALL_QUALITY_LAB methodology end-to-end: score a candidate
    config (recency-sorted recall — chronology instead of ranking) against
    the baseline per-query NDCG series, and require (1) the paired t-test
    to flag the degradation as significant and (2) the scorecard rule to
    keep the baseline."""
    from ir_metrics import paired_ttest, pick_winner
    from automem_spark.sources.tables import memories_view

    k = golden["k"]
    mem = memories_view(spark, golden["sf_dir"]).withColumn(
        "embedding", placeholder_embedding_udf(golden["dim"])(F.col("content"))
    )
    base_series, cand_series = [], []
    for q, pinned in golden["rankings"].items():
        got = [int(r.id) for r in rankings[q]]
        base_series.append(ndcg_at_k(got, pinned["ids"], k))
        qvec = placeholder_embedding(q, golden["dim"])
        cand = recall(
            mem,
            RecallRequest(query=q, limit=k, sort="time_desc"),
            query_vector=qvec,
        ).collect()
        cand_series.append(ndcg_at_k([int(r.id) for r in cand], pinned["ids"], k))

    verdict = paired_ttest(cand_series, base_series)
    assert verdict["significant"], verdict
    assert verdict["mean_diff"] > 0.3  # baseline clearly ahead, not noise
    assert verdict["effect_size"] == "large"

    import statistics

    cards = [
        {"name": "baseline", "ndcg_10": statistics.fmean(base_series),
         "distractor_rate_10": 0.0, "complexity": 3, "latency_ms": 200.0},
        {"name": "recency_only", "ndcg_10": statistics.fmean(cand_series),
         "distractor_rate_10": 0.0, "complexity": 1, "latency_ms": 150.0},
    ]
    w = pick_winner(cards, baseline_name="baseline")
    assert w["name"] == "baseline"


def test_lab_decision_noise_band_gate():
    """docs/RECALL_QUALITY_LAB.md: a scorecard challenger is only trusted
    when the paired comparison clears the noise band — a mean-NDCG win
    driven by a couple of questions keeps the baseline; a consistent
    per-question win dethrones it."""
    from ir_metrics import lab_decision

    base_q = [0.8] * 20
    # two lucky questions: +0.025 mean, but p >> 0.05 across the series
    lucky = [0.8] * 18 + [1.0, 1.0]
    # consistent small win on every question: clears the band
    steady = [0.85] * 20

    def card(name, qualities, complexity=2):
        return {
            "name": name, "qualities": qualities,
            "ndcg_10": round(sum(qualities) / len(qualities), 6),
            "distractor_rate_10": 0.0, "complexity": complexity,
            "latency_ms": 100.0,
        }

    kept = lab_decision(
        [card("baseline", base_q, 3), card("lucky", lucky)],
        baseline_name="baseline",
    )
    assert kept["name"] == "baseline"
    assert "noise band" in kept["reason"]
    assert not kept["paired_vs_baseline"]["significant"]

    won = lab_decision(
        [card("baseline", base_q, 3), card("steady", steady)],
        baseline_name="baseline",
    )
    assert won["name"] == "steady"
    assert won["paired_vs_baseline"]["significant"]
