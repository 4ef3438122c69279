"""Tests for classifier tier 1, pattern detection, consolidation passes,
and multi-query recall."""

from pyspark.sql import functions as F

from automem_spark.operators.consolidation import creative_pairs, forget_classify
from automem_spark.operators.enrichment import classify_memory_expr, detect_patterns_batch
from automem_spark.operators.recall import RecallRequest, recall, recall_many_hybrid
from automem_spark.sources.graph_fixture import edges_view
from automem_spark.sources.tables import load_table, memories_view

NOW = "2026-06-01 00:00:00"


def test_classifier_tier1_semantics(spark):
    rows = [
        (1, "we decided to use spark"),          # Decision, 1 match -> 0.6
        (2, "decided to go, opted for parquet"), # Decision, 2 matches -> 0.8
        (3, "i usually often tend to batch"),    # Pattern, 3 matches -> 0.9
        (4, "nothing to see here"),              # fallback Memory 0.3
        (5, "always use tabs"),                  # Preference ("always use"), not Habit (lookahead)
        (6, "always late"),                      # Habit (\balways\b not followed by use)
    ]
    df = spark.createDataFrame(rows, ["id", "content"])
    cls = classify_memory_expr(F.col("content"))
    got = {
        r.id: (r.t, round(r.c, 6))
        for r in df.select("id", cls["type"].alias("t"), cls["confidence"].alias("c")).collect()
    }
    assert got[1] == ("Decision", 0.6)
    assert got[2] == ("Decision", 0.8)
    assert got[3] == ("Pattern", 0.9)
    assert got[4] == ("Memory", 0.3)
    assert got[5] == ("Preference", 0.6)
    assert got[6] == ("Habit", 0.6)


def test_pattern_detection_counts_multiplicity(spark):
    rows = [
        ("Decision", 0.9, "alpha alpha beta gamma"),
        ("Decision", 0.8, "alpha beta"),
        ("Decision", 0.7, "alpha delta"),
        ("Decision", 0.6, "epsilon"),
        ("Insight", 0.9, "zeta"),  # only 1 member -> excluded
    ]
    df = spark.createDataFrame(rows, ["type", "confidence", "content"])
    got = detect_patterns_batch(df, min_members=4).collect()
    terms = {(r.type, r.term): r.term_count for r in got}
    assert terms[("Decision", "alpha")] == 4  # multiplicity counted
    assert all(r.type == "Decision" for r in got)


def test_forget_classify_actions(spark, sf_dir):
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    rel_counts = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("rel_count"))
    got = forget_classify(mem, rel_counts, now=NOW, delete_threshold=0.25, archive_threshold=0.35)
    actions = {r["action"] for r in got.select("action").distinct().collect()}
    assert actions <= {"preserved", "delete", "archive", "update"}
    # protected types never deleted/archived
    joined = got.join(mem.select("id", "type", "importance"), "id")
    bad = joined.filter(
        F.col("type").isin("Decision", "Insight") & F.col("action").isin("delete", "archive")
    ).count()
    assert bad == 0


def test_creative_pairs_rules(spark, sf_dir):
    mem = memories_view(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    edges = edges_view(spark, sf_dir)
    got = creative_pairs(mem, emb, edges, max_id=100).collect()
    assert got
    for r in got:
        assert (r.rel_type, r.kind) in {
            ("CONTRADICTS", None),
            ("DISCOVERED", "explains"),
            ("DISCOVERED", "shares_theme"),
            ("DISCOVERED", "parallel_context"),
        }


def test_recall_many_matches_single(spark, sf_dir):
    """Multi-query fan-out must reproduce single-query keyword recall —
    including the OUTPUT ORDER (r12): slot selection by the raw keyword
    ordering, output rank by the W1 blended sort, exactly like recall()."""
    mem = memories_view(spark, sf_dir)
    q = "spark window merge fast"
    single = recall(mem, RecallRequest(query=q, limit=5), now=NOW).collect()
    many = (
        recall_many_hybrid(mem, [("q0", q)], 5, now=NOW).orderBy("rank").collect()
    )
    assert [r.id for r in single] == [r.id for r in many]
    s_scores = {r.id: round(r.final_score, 9) for r in single}
    m_scores = {r.id: round(r.final_score, 9) for r in many}
    assert s_scores == m_scores


def test_enrich_pipeline_composition(spark):
    """ST2 composed DAG (runtime_orchestration.py:165-315): every stage's
    contribution is visible in the one-job output."""
    from datetime import datetime

    from automem_spark.operators.enrich import enrich_pipeline

    rows = [
        # same-source cluster, 1 day apart: temporal links accrue
        (0, "We decided to go with Spark. Met with Alice Johnson today.",
         ["lang:en"], datetime(2026, 1, 1), "web"),
        (1, "Also decided to go left. Met with Alice Johnson again.",
         ["lang:en"], datetime(2026, 1, 2), "web"),
        (2, "Then decided to go right. Met with Alice Johnson once more.",
         ["lang:en"], datetime(2026, 1, 3), "web"),
        (3, "Again decided to go up. Met with Alice Johnson briefly.",
         ["lang:en"], datetime(2026, 1, 4), "web"),
        # outside the 7-day window and a different source
        (4, "Nothing interesting here at all.",
         ["lang:de"], datetime(2026, 3, 1), "pdf"),
    ]
    mem = spark.createDataFrame(
        rows, "id long, content string, tags array<string>, timestamp timestamp, source string"
    )
    out = {r["id"]: r for r in enrich_pipeline(mem, None).collect()}

    # U3: "decided to" -> Decision at 0.6; fallback row -> Memory at 0.3
    assert out[0]["mem_type"] == "Decision" and out[0]["cls_confidence"] == 0.6
    assert out[4]["mem_type"] == "Memory" and out[4]["cls_confidence"] == 0.3
    # U2 + tags: extracted entities become entity:* tags appended after the
    # base tags (exact extraction parity is pinned separately by the
    # 723-case fidelity test; here we pin the composition contract).
    assert "entity:people:alice-johnson" in out[0]["entity_tags"]
    assert out[0]["entity_tags"] == sorted(set(out[0]["entity_tags"]))
    assert out[0]["tags_enriched"] == ["lang:en"] + out[0]["entity_tags"]
    assert out[4]["entity_tags"] == [] and out[4]["tags_enriched"] == ["lang:de"]
    # X12: hierarchical prefixes of the enriched tag list
    assert {"lang", "lang:en", "entity", "entity:people",
            "entity:people:alice-johnson"} <= set(out[0]["tag_prefixes"])
    # J13: capped newest-3 within 7 days, same source
    assert [out[i]["n_temporal"] for i in range(4)] == [0, 1, 2, 3]
    assert out[4]["n_temporal"] == 0
    # A7: Decision has 4 confident members >= min_members; top term is shared
    assert out[0]["pattern_term"] == "alice"
    # X18: first sentence
    assert out[0]["summary"] == "We decided to go with Spark."
    # no embeddings provided -> neighbor stage degrades to zero
    assert out[0]["n_neighbors"] == 0
    assert all(r["enriched"] for r in out.values())


def test_enrich_pipeline_neighbor_stage(spark):
    from datetime import datetime

    from automem_spark.operators.enrich import enrich_pipeline

    mem = spark.createDataFrame(
        [(i, "x", ["t:a"], datetime(2026, 1, 1), "s") for i in range(4)],
        "id long, content string, tags array<string>, timestamp timestamp, source string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.01]),   # ~1.0 cosine with 0
            (2, [0.0, 1.0]),    # orthogonal to 0/1
            (9, [1.0, 0.0]),    # not in mem -> semi-join drops it
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["id"]: r["n_neighbors"] for r in enrich_pipeline(mem, emb, neighbor_threshold=0.9).collect()}
    assert out == {0: 1, 1: 1, 2: 0, 3: 0}


def test_consolidation_schedule_gating():
    """ST5 should_run (consolidation.py:1140-1152) + schedule write-back."""
    from automem_spark.operators.scheduler import (
        SCHEDULE_INTERVALS_DAYS,
        advance_schedule,
        due_tasks,
    )

    now = "2026-06-01 00:00:00"
    last = {
        "decay": "2026-05-30 00:00:00",     # 2d >= 1d -> due
        "creative": "2026-05-20 00:00:00",  # 12d >= 7d -> due
        "cluster": "2026-05-15 00:00:00",   # 17d < 30d -> not due
        "forget": "2026-04-01 00:00:00",    # 61d < 90d -> not due
        "identity": None,                   # never ran -> due
    }
    assert due_tasks(last, now) == ["decay", "creative", "identity"]
    # force runs exactly one task regardless of schedule
    assert due_tasks(last, now, force="forget") == ["forget"]
    assert due_tasks(last, now, force="bogus") == []
    # disabled interval never runs
    assert due_tasks({"decay": None}, now, intervals={"decay": 0}) == []
    # boundary: exactly one interval elapsed -> due
    assert "decay" in due_tasks({"decay": "2026-05-31 00:00:00"}, now)
    adv = advance_schedule(last, ["decay", "creative", "identity"], now)
    assert adv["decay"] == now and adv["identity"] == now
    assert adv["cluster"] == last["cluster"] and adv["forget"] == last["forget"]
    assert set(adv) == set(SCHEDULE_INTERVALS_DAYS)


def test_consolidation_run_executes_only_due_passes(spark, sf_dir):
    from pyspark.sql import functions as F

    from automem_spark.operators.scheduler import consolidation_run
    from automem_spark.sources.graph_fixture import edges_view
    from automem_spark.sources.tables import load_table, memories_view

    mem = memories_view(spark, sf_dir)
    out = consolidation_run(
        spark,
        now="2026-06-01 00:00:00",
        last_runs={"decay": None, "creative": "2026-05-31 00:00:00",
                   "cluster": "2026-05-31 00:00:00", "forget": "2026-05-31 00:00:00",
                   "identity": "2026-05-31 00:00:00"},
        memories=mem,
        edges=edges_view(spark, sf_dir),
        embeddings=load_table(spark, sf_dir, "embeddings"),
        decay_rel_count=F.col("n_chars") % 10,
    ).collect()
    by_task = {}
    for r in out:
        by_task.setdefault(r["task"], {})[r["metric"]] = r["value"]
    assert by_task["decay"]["due"] == 1.0 and by_task["decay"]["processed"] > 0
    # only the due pass produced stats rows
    for t in ("creative", "cluster", "forget", "identity"):
        assert by_task[t] == {"due": 0.0}


def test_decay_uses_last_accessed_when_present(spark):
    """A recently-accessed old memory must score higher than an untouched
    one (access-reinforcement, reference consolidation.py:1023-1115): the
    decay inputs read coalesce(last_accessed, timestamp) when the corpus
    carries the ST7 write-back column."""
    from automem_spark.operators.consolidation import decay_stats, forget_classify

    now = "2025-06-01 00:00:00"
    import datetime as dt

    rows = [
        # same 30-day-old memory; one was accessed yesterday (age short
        # enough that scores stay above the importance*0.3 floor, so the
        # reinforcement factor is visible in the output)
        (1, dt.datetime(2025, 5, 2), None, 0.5, 0.5, "Memory", False),
        (2, dt.datetime(2025, 5, 2), dt.datetime(2025, 5, 31, 12), 0.5, 0.5, "Memory", False),
    ]
    mem = spark.createDataFrame(
        rows,
        "id long, timestamp timestamp, last_accessed timestamp,"
        " importance double, confidence double, type string, archived boolean",
    )
    got = {r.id: r.relevance_score for r in forget_classify(mem, None, now=now).collect()}
    assert got[2] > got[1]

    # decay_stats over the same corpus reflects the reinforcement in its avg
    with_col = decay_stats(mem, now=now).collect()[0]
    without = decay_stats(mem.drop("last_accessed"), now=now).collect()[0]
    assert with_col.avg_relevance_after > without.avg_relevance_after
