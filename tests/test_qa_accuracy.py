"""SURVEY §5 benchmark layer: the LoCoMo-mini end-to-end QA accuracy gate.

Runs the deterministic conversation corpus + question set through the full
recall composition (tests/qa_harness.py) and compares against the committed
baseline (tests/golden/qa_baseline.json — regenerated only via
scripts/make_qa_baseline.py). Two gates, mirroring the reference's
benchmark policy (tests/benchmarks/test_locomo.py + committed
locomo-mini_baseline.json):

- accuracy >= the pinned min_accuracy (hard quality floor);
- per-question verdicts AND evidence ids match the baseline exactly (any
  ranking/selection drift shows up as a reviewable diff, even when the
  word-overlap verdict still passes).
"""

import json
import os

import pytest

import qa_harness

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden", "qa_baseline.json")


@pytest.fixture(scope="module")
def baseline():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def result(spark):
    return qa_harness.run_all(spark)


def test_accuracy_floor(baseline, result):
    assert result["accuracy"] >= baseline["min_accuracy"]
    assert result["n_questions"] == baseline["n_questions"]


def test_baseline_provenance(baseline):
    """The golden must have been written by the harness script, never
    pasted from engine output (r12 verdict ask #7): the regeneration
    scripts stamp provenance, and a golden missing it — or naming any
    other producer — is inadmissible."""
    prov = baseline["provenance"]
    assert prov["generated_by"] == "scripts/make_qa_baseline.py"
    assert prov["git_head"]


def test_per_question_verdicts_pinned(baseline, result):
    for qid, pinned in baseline["per_question"].items():
        got = result["per_question"][qid]
        assert got["correct"] == pinned["correct"], qid
        assert got["top_ids"] == pinned["top_ids"], f"evidence drifted for {qid}"
        assert got["category"] == pinned["category"], qid


def test_supersession_answered_from_head(result):
    """The current-state question must answer from the Munich memory (3),
    never from the superseded Berlin memory (1)."""
    got = result["per_question"]["alice_city"]
    assert got["top_ids"][0] == 3
    assert 1 not in got["top_ids"]


def test_adversarial_returns_nothing(result):
    assert result["per_question"]["wifi"]["top_ids"] == []


def test_u2_extraction_on_qa_corpus(spark):
    """Ingest-side consistency: running the U2 entity extractor over the
    raw QA conversation corpus. The regex tier extracts from prepositional
    patterns ('with/about X' — verified: 'We talked with Alice' yields
    entity:people:alice) and deliberately rejects bare sentence-initial
    names ('Alice mentioned ...' — the reference's quality gates treat
    sentence-case leads as ambiguous), so on this corpus it finds the tool
    entity; the hand-written entity:people tags in MEMORIES stand in for
    the reference's optional spaCy tier (absent offline by design)."""
    from automem_spark.operators.entity_extract import extract_entities

    ents = extract_entities(
        qa_harness.build_corpus(spark).select("id", "content")
    ).collect()
    tags = {r.canonical_tag for r in ents}
    assert "entity:tools:postgresql" in tags
    assert not any(t.startswith("entity:people:") for t in tags)


def test_shipped_config_is_lab_decision_choice(spark):
    """Standing lab gate (reference docs/RECALL_QUALITY_LAB.md): emit a
    scorecard per candidate recall config and require the SHIPPED config
    to be the lab decision rule's choice — pick_winner's scorecard rule
    PLUS the documented paired-comparison noise band ("trust a config
    change only when the paired comparison clears the noise band"). A
    future recall-knob change must defeat this baseline the way the
    reference's lab requires, not just stay unit-green."""
    from ir_metrics import lab_decision, paired_ttest

    cards = qa_harness.scorecard(spark)
    assert {c["name"] for c in cards} == set(qa_harness.CANDIDATE_CONFIGS)
    w = lab_decision(cards, baseline_name="shipped")
    assert w["name"] == "shipped", cards
    # the gate must be a real contest: every ablation either genuinely
    # degrades mean NDCG or fails to clear the paired noise band
    by_name = {c["name"]: c for c in cards}
    shipped = by_name["shipped"]
    for cand in set(by_name) - {"shipped"}:
        if by_name[cand]["ndcg_10"] >= shipped["ndcg_10"]:
            t = paired_ttest(shipped["qualities"], by_name[cand]["qualities"])
            assert not (t["significant"] and t["mean_diff"] > 0), (cand, t, cards)
