"""Empirical weight sweep over the XL QA families (r12 verdict ask #3).

Runs the full XL question set under candidate Weights configs through the
same batch paths the baseline uses (recall_many_hybrid for flat/scoped questions,
recall_full untouched for the supersession probes) and prints per-category
accuracy per config — the instrument for choosing which candidate to take
into the lab_decision gate.

    python scripts/xl_weight_sweep.py
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from pyspark.sql import functions as F  # noqa: E402

import qa_xl  # noqa: E402
from automem_spark.functions.scoring import DEFAULT_WEIGHTS, Weights  # noqa: E402
from automem_spark.operators.recall import recall_many_hybrid  # noqa: E402
from automem_spark.session import get_spark  # noqa: E402

CONFIGS = {
    # "shipped" must track the engine's DEFAULT_WEIGHTS (r13 rebalance:
    # recency 0.15 / importance 0.05); Weights() is the reference-default
    # blend, kept under the same name qa_harness uses for it.
    "shipped": DEFAULT_WEIGHTS,
    "legacy_blend": Weights(),
    "rec20_imp05": Weights(recency=0.2, importance=0.05),
    "win90": Weights(recency_window_days=90.0),
    "rec15_imp05_win90": Weights(
        recency=0.15, importance=0.05, recency_window_days=90.0
    ),
    "rec20_imp10": Weights(recency=0.2),
    "exp_halflife90": Weights(recency_curve="exp", recency_window_days=90.0),
}


def answer_all_weighted(spark, w: Weights) -> dict[str, list[int]]:
    memories = qa_xl.build_corpus(spark)
    edges = qa_xl.build_edges(spark)
    qs = qa_xl.QUESTIONS
    batch = [q for q in qs if q.get("mode") != "full" and "start" not in q]
    scoped = [q for q in qs if q.get("mode") != "full" and "start" in q]
    full = [q for q in qs if q.get("mode") == "full"]

    def batch_answers(pool, questions):
        pairs = [(q["qid"], q["query"]) for q in questions]
        rows = (
            recall_many_hybrid(pool, pairs, qa_xl.TOP_K, now=qa_xl.NOW, w=w)
            .orderBy("query_id", "rank")
            .collect()
        )
        out = {q["qid"]: [] for q in questions}
        for r in rows:
            out[r.query_id].append(int(r.id))
        return out

    answers = batch_answers(memories, batch)
    for start, end in sorted({(q["start"], q["end"]) for q in scoped}):
        pool = memories.filter(
            (F.col("timestamp") >= F.lit(start).cast("timestamp"))
            & (F.col("timestamp") < F.lit(end).cast("timestamp"))
        )
        sub = [q for q in scoped if (q["start"], q["end"]) == (start, end)]
        answers.update(batch_answers(pool, sub))
    # supersession probes go through recall_full with the candidate weights
    from automem_spark.operators.recall import RecallRequest, recall_full

    for q in full:
        req = RecallRequest(query=q["query"], limit=q.get("limit", qa_xl.TOP_K), weights=w)
        out = recall_full(memories, edges, req, now=qa_xl.NOW)
        answers[q["qid"]] = [int(r.id) for r in out.orderBy("position").collect()]
    return answers


def main() -> None:
    spark = get_spark("xl-weight-sweep", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[1:] or list(CONFIGS)
    for name in names:
        w = CONFIGS[name]
        answers = answer_all_weighted(spark, w)
        agg = defaultdict(lambda: [0, 0])
        for q in qa_xl.QUESTIONS:
            s = qa_xl.score(q, answers[q["qid"]])
            agg[q["category"]][0] += s["correct"]
            agg[q["category"]][1] += 1
        total_ok = sum(v[0] for v in agg.values())
        total_n = sum(v[1] for v in agg.values())
        cats = " ".join(
            f"{c}={ok}/{n}" for c, (ok, n) in sorted(agg.items())
        )
        print(f"{name:22s} acc={total_ok/total_n:.4f} ({total_ok}/{total_n})  {cats}", flush=True)


if __name__ == "__main__":
    main()
