"""Deterministic LoCoMo-mini analog: SURVEY §5's end-to-end QA-accuracy
benchmark layer (reference: tests/benchmarks/test_locomo.py — ingest
conversation sessions, answer each question via recall, score the answer by
word overlap, pin a committed per-question baseline like
benchmarks/baselines/locomo-mini_baseline.json).

Differences from the reference harness, by design:
- fully offline + deterministic: a hand-built conversation corpus with
  planted facts, distractors, a supersession chain, and an unanswerable
  question — no LLM judge (the reference's category-5 judge is opt-in too);
- scoring is exact token containment over the top-k contents (the
  deterministic core of the reference's word-overlap scorer) instead of
  fuzzy F1 — every verdict is reproducible bit-for-bit;
- answers come from `recall_full`, the complete §3.1 composition (keyword
  channel → hybrid score → dedup → expansions → current-state filter +
  supersession head injection → recency re-rank → adaptive floor), so the
  harness grades the composed read path, not a single channel.

Question categories mirror the reference's taxonomy: single-hop fact,
preference, temporal fact, decision, multi-session current-state (the
supersession case — answering from the OLD memory is wrong), and
adversarial-unanswerable (correct answer = empty result set).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automem_spark.operators.enrichment import classify_memory_expr
from automem_spark.operators.recall import RecallRequest, recall_full

NOW = "2026-06-01 00:00:00"
TOP_K = 3

# (id, content, tags, timestamp, importance, confidence)
MEMORIES: list[tuple] = [
    # -- Alice: city supersession chain (1 -> 3 via EVOLVED_INTO) ----------
    (1, "Alice mentioned she moved to Berlin for the new platform role.",
     ["entity:people:alice", "context:work"], dt.datetime(2025, 3, 5), 0.7, 0.9),
    (2, "Alice said the Berlin museum district is her favorite weekend spot.",
     ["entity:people:alice", "context:leisure"], dt.datetime(2025, 4, 12), 0.5, 0.8),
    (3, "Alice announced she relocated to Munich after the reorg.",
     ["entity:people:alice", "context:work"], dt.datetime(2026, 5, 2), 0.8, 0.9),
    # -- Bob: preferences ---------------------------------------------------
    (4, "Bob prefers tea over coffee in the mornings.",
     ["entity:people:bob"], dt.datetime(2025, 6, 1), 0.6, 0.9),
    (5, "Bob's favorite editor is vim and he maps caps lock to escape.",
     ["entity:people:bob", "context:tools"], dt.datetime(2025, 7, 9), 0.6, 0.9),
    # -- Atlas project ------------------------------------------------------
    (6, "The Atlas project deadline is June 15, 2026 per the steering call.",
     ["entity:project:atlas", "context:planning"], dt.datetime(2026, 2, 20), 0.9, 0.9),
    (7, "Atlas project kickoff happened back in January with the full team.",
     ["entity:project:atlas"], dt.datetime(2026, 1, 8), 0.5, 0.8),
    (8, "We decided to use PostgreSQL for the Atlas backend storage layer.",
     ["entity:project:atlas", "context:architecture"], dt.datetime(2026, 3, 1), 0.9, 0.95),
    # -- Carol --------------------------------------------------------------
    (9, "Carol's dog is named Biscuit and steals socks.",
     ["entity:people:carol"], dt.datetime(2025, 9, 14), 0.4, 0.9),
    # -- Operational habits -------------------------------------------------
    (10, "Deployment to staging runs every Friday at noon.",
     ["context:ops"], dt.datetime(2025, 11, 3), 0.6, 0.9),
    # -- Distractor noise (shared vocabulary, wrong answers) ----------------
    (11, "The coffee machine on floor two is broken again.",
     ["context:office"], dt.datetime(2026, 4, 2), 0.3, 0.7),
    (12, "Berlin trip photos were shared in the team channel.",
     ["context:leisure"], dt.datetime(2025, 5, 20), 0.3, 0.7),
    (13, "The museum exhibit about databases was surprisingly popular.",
     ["context:leisure"], dt.datetime(2025, 8, 2), 0.3, 0.7),
    (14, "Editor wars aside, the linter config is finally stable.",
     ["context:tools"], dt.datetime(2026, 1, 25), 0.4, 0.8),
    (15, "Friday retro moved to the big meeting room.",
     ["context:ops"], dt.datetime(2026, 2, 5), 0.4, 0.8),
    (16, "A stray dog followed Carol home from the park once.",
     ["entity:people:carol"], dt.datetime(2025, 10, 1), 0.3, 0.7),
]

# (src, dst, rel_type, updated_at_epoch) — old memory EVOLVED_INTO new one
EDGES: list[tuple] = [
    (1, 3, "EVOLVED_INTO", 1_775_000_000),
]

# Question set. `expect_tokens`: every token must appear in the concatenated
# top-k contents (lowercased). `forbid_top_id`: answering FROM that memory
# id in position 1 is wrong (supersession). `expect_empty`: the correct
# answer is no results (adversarial/unanswerable).
QUESTIONS: list[dict] = [
    {"qid": "bob_editor", "category": "single_hop",
     "query": "what is bob's favorite editor", "expect_tokens": ["vim"]},
    {"qid": "carol_dog", "category": "single_hop",
     "query": "what is carol's dog named", "expect_tokens": ["biscuit"]},
    {"qid": "bob_morning", "category": "preference",
     "query": "does bob prefer tea or coffee in the mornings",
     "expect_tokens": ["tea"]},
    {"qid": "atlas_deadline", "category": "temporal",
     "query": "when is the atlas project deadline",
     "expect_tokens": ["june", "15"]},
    {"qid": "atlas_db", "category": "decision",
     "query": "which database did we decide to use for atlas",
     "expect_tokens": ["postgresql"]},
    {"qid": "alice_city", "category": "current_state",
     "query": "where does alice live",
     "expect_tokens": ["munich"], "forbid_top_id": 1},
    {"qid": "deploy_cadence", "category": "habit",
     "query": "when does the staging deployment run",
     "expect_tokens": ["friday", "noon"]},
    {"qid": "wifi", "category": "adversarial",
     "query": "what is the wifi password", "expect_empty": True},
    # LongMemEval-style temporal scoping: the same fact universe, but the
    # question narrows to a session window (F5 pushes into the scan)
    {"qid": "bob_2025", "category": "temporal_scoped",
     "query": "bob tea mornings",
     "start": "2025-01-01 00:00:00", "end": "2025-12-31 00:00:00",
     "expect_tokens": ["tea"]},
    # knowledge-update at the other end: scoped to 2026, Alice's city answer
    # must be Munich (the only in-window city memory IS the head)
    {"qid": "alice_2026", "category": "temporal_scoped",
     "query": "where does alice live",
     "start": "2026-01-01 00:00:00", "end": "2026-12-31 00:00:00",
     "expect_tokens": ["munich"], "forbid_top_id": 1},
    # time-browse: no relevance signal + a window -> implicit time_desc
    # chronology (W3); the newest in-window memory leads
    {"qid": "browse_early_2026", "category": "time_browse",
     "query": "",
     "start": "2026-01-01 00:00:00", "end": "2026-03-01 00:00:00",
     "expect_tokens": ["deadline"]},
    # multi-entity question through the R8-R11 auto-decompose path: the
    # composite query fans into entity/topic sub-queries run as one
    # multi-recall job; the union must surface facts about BOTH entities
    {"qid": "alice_and_atlas", "category": "multi_query", "mode": "decompose",
     "query": "tell me about Alice and the Atlas project",
     "expect_tokens": ["munich", "deadline", "postgresql"]},
]


def build_corpus(spark: SparkSession) -> DataFrame:
    """Conversation rows → memory schema: the type column is DERIVED by the
    tier-1 classifier (U3) rather than hand-labeled, so the harness also
    exercises enrichment on the read path's input."""
    df = spark.createDataFrame(
        MEMORIES,
        "id bigint, content string, tags array<string>, timestamp timestamp,"
        " importance double, confidence double",
    )
    return df.select(
        "*",
        classify_memory_expr(F.col("content"))["type"].alias("type"),
        F.lit(False).alias("archived"),
        F.lit(None).cast("timestamp").alias("t_valid"),
        F.lit(None).cast("timestamp").alias("t_invalid"),
        F.lit("{}").alias("metadata"),
    )


def build_edges(spark: SparkSession) -> DataFrame:
    df = spark.createDataFrame(
        EDGES, "src bigint, dst bigint, rel_type string, updated_at_epoch bigint"
    )
    return df.select(
        "src", "dst", "rel_type",
        F.lit(None).cast("double").alias("strength"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("double").alias("confidence"),
        F.lit(None).cast("double").alias("similarity"),
        F.lit(None).cast("bigint").alias("cnt"),
        F.lit(None).cast("string").alias("kind"),
        F.lit(None).cast("string").alias("origin"),
        "updated_at_epoch",
    )


def answer(
    memories: DataFrame, edges: DataFrame, question: dict,
    overrides: dict | None = None,
) -> list:
    req = RecallRequest(
        query=question["query"],
        limit=TOP_K,
        start=question.get("start"),
        end=question.get("end"),
        **(overrides or {}),
    )
    out = recall_full(memories, edges, req, now=NOW)
    return [int(r.id) for r in out.orderBy("position").collect()]


def score(question: dict, top_ids: list[int]) -> dict:
    """Deterministic word-overlap verdict + the evidence for the baseline."""
    if question.get("expect_empty"):
        return {"correct": len(top_ids) == 0, "top_ids": top_ids}
    content_by_id = {m[0]: m[1] for m in MEMORIES}
    text = " ".join(content_by_id.get(i, "").lower() for i in top_ids)
    ok = all(tok in text for tok in question["expect_tokens"])
    if "forbid_top_id" in question and top_ids and top_ids[0] == question["forbid_top_id"]:
        ok = False
    return {"correct": ok, "top_ids": top_ids}


def answer_decomposed(memories: DataFrame, question: dict) -> list[int]:
    """R8-R11 path: auto-decompose the question into entity/topic
    sub-queries and run them as ONE multi-recall job (the reference's
    auto_decompose + queries_to_run loop, recall.py:2151-2223). Evidence =
    per-sub-query top ids, deduplicated in (query, rank) order."""
    from automem_spark.operators.decompose import decompose_query
    from automem_spark.operators.recall import recall_many_hybrid

    subs = decompose_query(question["query"])
    pairs = [(f"q{i:02d}", s) for i, s in enumerate(subs)]
    rows = (
        recall_many_hybrid(memories, pairs, TOP_K, now=NOW)
        .orderBy("query_id", "rank")
        .collect()
    )
    seen: list[int] = []
    for r in rows:
        if int(r.id) not in seen:
            seen.append(int(r.id))
    return seen


def run_all(spark: SparkSession) -> dict:
    memories = build_corpus(spark)
    edges = build_edges(spark)
    per_q = {}
    for q in QUESTIONS:
        if q.get("mode") == "decompose":
            ids = answer_decomposed(memories, q)
        else:
            ids = answer(memories, edges, q)
        per_q[q["qid"]] = {"category": q["category"], **score(q, ids)}
    n = len(per_q)
    acc = sum(1 for v in per_q.values() if v["correct"]) / n
    return {"accuracy": round(acc, 6), "n_questions": n, "per_question": per_q}


# ---------------------------------------------------------------------------
# Standing pick_winner gate (reference docs/RECALL_QUALITY_LAB.md): the
# shipped recall config must BE the lab decision rule's choice against the
# candidate configs below — any future recall-knob change has to defeat the
# baseline the way the reference's lab requires, not just pass unit tests.
#
# Candidates are weight ABLATIONS of the hybrid blend, because weights are
# the knobs recall_full actually consumes (sort/min_score belong to the
# simple recall API — overriding them through the full composition is a
# no-op, measured). The quality series is NDCG@k against token-derived
# gold ids (binary containment over top-k contents ties at 100% for every
# ablation on this mini corpus — too lenient to arbitrate configs).
# ---------------------------------------------------------------------------

# Planted never-relevant noise rows (shared vocabulary, wrong answers) —
# the distractor label set for the scorecard's precision guardrail.
DISTRACTOR_IDS = {11, 12, 13, 14, 15, 16}


def _candidate_configs() -> dict[str, dict]:
    """name -> RecallRequest overrides + the knob-count complexity the lab
    rule tie-breaks on (fewer active scoring knobs = lower complexity)."""
    from automem_spark.functions.scoring import Weights

    return {
        "shipped": {"overrides": {}, "complexity": 3},
        # The pre-r13 blend (the reference's field defaults, recency 0.10 /
        # importance 0.10 — `Weights()` IS that blend). Kept as a standing
        # candidate so the r13 rebalance stays an evidence-backed decision:
        # if a future change makes the legacy blend win pick_winner again,
        # the lab gate fails loudly instead of the regression hiding.
        "legacy_blend": {"overrides": {"weights": Weights()}, "complexity": 3},
        "recency_heavy": {
            "overrides": {
                "weights": Weights(
                    vector=0.0, keyword=0.0, metadata=0.0,
                    tag=0.0, importance=0.0, confidence=0.0, recency=1.0,
                )
            },
            "complexity": 1,
        },
        "keyword_off": {
            "overrides": {"weights": Weights(keyword=0.0, tag=0.0)},
            "complexity": 2,
        },
        "no_signals": {
            "overrides": {
                "weights": Weights(recency=0.0, importance=0.0, confidence=0.0)
            },
            "complexity": 2,
        },
    }


CANDIDATE_CONFIGS = _candidate_configs()


def lab_scorecard(
    questions: list[dict],
    answer_fn,
    gold_fn,
    distractor_fn,
    configs: dict[str, dict],
    k: int = TOP_K,
    workers: int = 6,
) -> list[dict]:
    """Generic scorecard runner shared by both QA harnesses: per config,
    NDCG@k against `gold_fn(q)` (abstention questions score 1.0 on an
    empty result, 0.0 otherwise), `distractor_fn(q, ids)` averaged into
    the precision guardrail slot, per-question wall latency. Questions run
    on a thread pool — each answer is an independent Spark job, and the
    scheduler interleaves them (3 configs x 31 questions serially was a
    ~10-minute test; concurrency makes the gate affordable)."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from ir_metrics import ndcg_at_k

    def eval_q(config_overrides, q):
        t0 = time.time()
        ids = answer_fn(q, config_overrides)
        secs = time.time() - t0
        if q.get("expect_empty"):
            quality = 1.0 if not ids else 0.0
        else:
            quality = ndcg_at_k(ids, gold_fn(q), k)
        return quality, distractor_fn(q, ids), secs

    cards = []
    for name, cfg in configs.items():
        with ThreadPoolExecutor(max_workers=workers) as pool:
            results = list(
                pool.map(lambda q: eval_q(cfg["overrides"], q), questions)
            )
        qualities = [r[0] for r in results]
        drs = [r[1] for r in results if r[1] is not None]
        cards.append(
            {
                "name": name,
                # per-question series kept on the card: the lab decision
                # rule's paired noise-band test needs it (lab_decision)
                "qualities": qualities,
                "ndcg_10": round(sum(qualities) / len(qualities), 6),
                "distractor_rate_10": (
                    round(sum(drs) / len(drs), 6) if drs else 0.0
                ),
                "complexity": cfg["complexity"],
                "latency_ms": sum(r[2] for r in results) * 1000.0 / len(results),
            }
        )
    return cards


def scorecard(spark: SparkSession) -> list[dict]:
    """LoCoMo-mini scorecards over the non-decompose questions (the
    decompose path has no per-request scoring knobs to ablate). Gold ids =
    memories containing every expected token; distractor rate = fraction
    of retrieved ids that are planted noise rows."""
    memories = build_corpus(spark)
    edges = build_edges(spark)
    qs = [q for q in QUESTIONS if q.get("mode") != "decompose"]

    def gold(q: dict) -> list[int]:
        return [
            m[0]
            for m in MEMORIES
            if all(t in m[1].lower() for t in q.get("expect_tokens", []))
        ]

    def distractor(q: dict, ids: list[int]):
        if not ids:
            return None
        return sum(1 for i in ids if i in DISTRACTOR_IDS) / len(ids)

    return lab_scorecard(
        qs,
        lambda q, ov: answer(memories, edges, q, overrides=ov),
        gold,
        distractor,
        CANDIDATE_CONFIGS,
    )
