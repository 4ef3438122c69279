"""Regenerate tests/golden/qa_xl_baseline.json — the LoCoMo-mini-XL golden.

Pins, from one deterministic run:
- accuracy + every per-question verdict AND evidence ids (330 questions,
  answered through the real paths: one recall_many_hybrid batch, per-window
  scoped batches, recall_full for the supersession family);
- the shipped config's per-question NDCG@3 series from the sampled lab
  scorecard, plus the full ablation cards and the lab_decision record.

Documented fixture property (kept deliberately): on the synthetic
single-fact questions the no-signals ablation ties or beats the shipped
blend — gold is always the unique token-matching row, so zeroing
recency/importance can only help, and the W1 importance tiebreak still
resolves stale twins. The XL gate is therefore a REGRESSION DETECTOR
(exact per-question pins), not a config-optimality proof — that gate
lives in the mini harness (test_qa_accuracy.py), whose composition-
sensitive questions are where the shipped blend wins. The current_state
probes here show the complement: every plain-ranking config scores 0 on
stale-vs-fresh city questions, while the full composition's J5 stage
answers all 16 correctly.

Headroom (r11 verdict ask #4): min_accuracy now sits ~0.88 — the
paraphrase / multi_hop / near_dup families are built to be missed by the
shipped config (keyword channel blind to paraphrase; no join for 2-hop
composition; recall_many_hybrid's raw-score slot selection puts the
higher-importance near-dup draft above the newer decided row — the
measurable target for a future blended batch ranking). The fp_twin
sub-family (X9 fingerprint-radius twins, differing past char 320) passes
today and guards that ranking keeps separating what the fingerprint
cannot.

    python scripts/make_qa_xl_baseline.py
"""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from automem_spark.session import get_spark  # noqa: E402

import qa_xl  # noqa: E402
from ir_metrics import lab_decision  # noqa: E402

OUT = os.path.join(ROOT, "tests", "golden", "qa_xl_baseline.json")


def main() -> None:
    spark = get_spark("qa-xl-baseline")
    result = qa_xl.run_all(spark)
    cards = qa_xl.scorecard(spark)
    decision = lab_decision(cards, baseline_name="shipped")
    slim_cards = [
        {k: c[k] for k in ("name", "ndcg_10", "distractor_rate_10", "complexity", "qualities")}
        for c in cards
    ]
    from make_qa_baseline import provenance  # same-dir harness sibling

    payload = {
        "min_accuracy": result["accuracy"],
        "n_questions": result["n_questions"],
        "per_question": result["per_question"],
        "scorecard": slim_cards,
        "lab_decision_winner": decision["name"],
        "provenance": provenance("scripts/make_qa_xl_baseline.py"),
    }
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(
        f"wrote {OUT}: accuracy={result['accuracy']} n={result['n_questions']} "
        f"winner={decision['name']}"
    )


if __name__ == "__main__":
    main()
