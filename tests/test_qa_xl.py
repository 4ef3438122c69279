"""LoCoMo-mini-XL gate (r10 verdict ask #6): the ~30× generated QA
benchmark, pinned per-question against tests/golden/qa_xl_baseline.json
(regenerated only via scripts/make_qa_xl_baseline.py).

Division of labor with the mini harness: the mini (test_qa_accuracy.py)
carries the config-optimality gate (shipped must be the lab decision's
choice on composition-sensitive questions); the XL carries RESOLUTION —
330 exactly-pinned verdicts + a pinned shipped-config NDCG series, so a
ranking regression far below the mini's 1/35 granularity surfaces as a
reviewable per-question diff instead of passing silently."""

import json
import os

import pytest

import qa_xl

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden", "qa_xl_baseline.json")


@pytest.fixture(scope="module")
def baseline():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def result(spark):
    return qa_xl.run_all(spark)


def test_question_volume_and_mix():
    from collections import Counter

    cats = Counter(q["category"] for q in qa_xl.QUESTIONS)
    assert len(qa_xl.QUESTIONS) >= 300
    for needed in (
        "single_hop", "preference", "temporal", "decision",
        "current_state", "temporal_scoped", "adversarial",
        "paraphrase", "multi_hop", "near_dup",
    ):
        assert cats[needed] >= 10, needed


def test_gate_has_headroom(baseline):
    """r11 verdict ask #4: the accuracy floor must carry information. The
    corpus is no longer answerable-by-construction — the paraphrase /
    multi_hop / near_dup families are questions the shipped config does
    NOT ace (reference benchmarks plateau at 85-87% for the same reason,
    benchmarks/EXPERIMENT_LOG.md:92-122), so a config improvement is
    measurable as a floor rise instead of invisible at 1.0."""
    assert baseline["min_accuracy"] < 1.0
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for v in baseline["per_question"].values():
        agg[v["category"]][0] += v["correct"]
        agg[v["category"]][1] += 1
    hard = {c for c, (ok, n) in agg.items() if ok / n < 0.9}
    # r13: the near_dup family left the hard set — the lab's recency/
    # importance rebalance (scoring.py DEFAULT_WEIGHTS) took it 9/15 ->
    # 15/15, exactly the improvement the headroom was built to measure.
    # paraphrase (keyword channel blind to synonyms; the stopword list is
    # reference-pinned so 'what/they/call'-class tokens stay) and
    # multi_hop (2-hop composition; the reference's own recall cannot
    # answer these either — its default insertion-order assembly returns
    # the seed rows) remain the measured structural residue.
    assert hard >= {"paraphrase", "multi_hop"}, hard
    assert agg["near_dup"][0] / agg["near_dup"][1] >= 0.75  # r12 ask #3 floor
    # and at least one hard category is MIXED (within-category resolution:
    # all-fail is as blind to direction as all-pass)
    assert any(0 < agg[c][0] < agg[c][1] for c in hard), agg


def test_accuracy_floor(baseline, result):
    assert result["accuracy"] >= baseline["min_accuracy"]
    assert result["n_questions"] == baseline["n_questions"]


def test_baseline_provenance(baseline):
    """The golden must have been written by the harness script, never
    pasted from engine output (r12 verdict ask #7)."""
    prov = baseline["provenance"]
    assert prov["generated_by"] == "scripts/make_qa_xl_baseline.py"
    assert prov["git_head"]


def test_per_question_verdicts_pinned(baseline, result):
    drifted = [
        qid
        for qid, pinned in baseline["per_question"].items()
        if result["per_question"][qid] != pinned
    ]
    assert not drifted, f"{len(drifted)} verdicts drifted: {drifted[:10]}"


def test_supersession_heads_all_suppressed(result):
    """The full composition's J5 stage must suppress every superseded city
    memory and keep the head retrievable — 16/16 (plain ranking scores 0
    on this family; see the scorecard probes in the golden)."""
    rows = [
        v for v in result["per_question"].values() if v["category"] == "current_state"
    ]
    assert len(rows) == 16 and all(v["correct"] for v in rows)


def test_adversarial_all_empty(result):
    rows = [
        v for v in result["per_question"].values() if v["category"] == "adversarial"
    ]
    assert len(rows) == 30 and all(v["top_ids"] == [] for v in rows)


def test_scorecard_series_pinned(spark, baseline):
    """The shipped config's per-question NDCG@3 series is the fine-grained
    ranking detector: any drift in channel scoring, dedup, or ordering
    moves at least one quality value. Ablation cards + the lab decision
    record are pinned too (a decision flip means the fixture's separation
    properties changed — reviewable, not silently absorbed)."""
    from ir_metrics import lab_decision

    cards = qa_xl.scorecard(spark)
    by_name = {c["name"]: c for c in cards}
    for pinned in baseline["scorecard"]:
        got = by_name[pinned["name"]]
        assert got["qualities"] == pinned["qualities"], pinned["name"]
        assert got["ndcg_10"] == pinned["ndcg_10"], pinned["name"]
        assert got["distractor_rate_10"] == pinned["distractor_rate_10"]
    assert (
        lab_decision(cards, baseline_name="shipped")["name"]
        == baseline["lab_decision_winner"]
    )


def test_structural_residue_pinned_with_citations(baseline):
    """r13 verdict ask #4: the two hard XL families are STRUCTURALLY
    bounded, not weight-tunable — pinned so a future round cannot claim
    the 0.91 headroom via a weight sweep without first deleting this test.

    Evidence (tests/golden/xl_structural_residue.json, the full r14
    7-config sweep via scripts/xl_weight_sweep.py): paraphrase = 10/30 and
    multi_hop = 0/18 under EVERY candidate config — recency/importance
    rebalances, window shrinks, exp curve — while near_dup swings 8/15 to
    15/15 across the same configs. Weight-invariant residue is structural:

    - paraphrase: the keyword channel's tokenizer keeps every content
      token not in the reference-pinned SEARCH_STOPWORDS
      (automem/utils/text.py:10-36 — 27 function words; synonyms are NOT
      stopwords). A synonym-only paraphrase shares zero tokens with its
      target, the channel emits no match row, and no SEARCH_WEIGHT_*
      blend can rescale a score that does not exist. Closing this needs a
      synonym/embedding channel, i.e. the U1 real-embedding seam, not
      weights.
    - multi_hop: 2-hop composition ("what database does the project Bob
      leads use") needs a JOIN across two memories; the reference's own
      recall assembly (automem/api/recall.py:1939-2149) returns per-query
      seed matches with 1-hop expansion CONTEXT and has no multi-hop
      answer path either — parity, not deficit.

    Any floor gain past 0.9033 must therefore come from a new channel,
    never from re-running the sweep.
    """
    with open(
        os.path.join(os.path.dirname(__file__), "golden", "xl_structural_residue.json")
    ) as f:
        residue = json.load(f)
    assert residue["provenance"]["generated_by"] == "scripts/xl_weight_sweep.py"
    per_config = residue["per_config"]
    assert len(per_config) >= 7 and "shipped" in per_config
    assert {c["paraphrase"] for c in per_config.values()} == {"10/30"}
    assert {c["multi_hop"] for c in per_config.values()} == {"0/18"}
    # near_dup IS weight-sensitive on the same sweep — the invariance above
    # is a property of those two families, not of the instrument
    assert len({c["near_dup"] for c in per_config.values()}) > 1
    # the floor the residue leaves standing (the r13 lab outcome) holds
    assert per_config["shipped"]["accuracy"] >= 0.9033
    assert baseline["min_accuracy"] >= 0.9033
