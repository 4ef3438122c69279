"""IR metrics and ingest ops."""

import pytest
from pyspark.sql import functions as F

from ir_metrics import (
    distractor_rate_at_k,
    ir_metrics_df,
    mrr,
    ndcg_at_k,
    recall_at_k,
)
from automem_spark.operators.ingest import delete_by_ids, normalize_memories, upsert_memories


def test_ir_metrics_pure():
    retrieved = ["a", "b", "c", "d"]
    assert recall_at_k(retrieved, ["a", "z"], 4) == 0.5
    assert mrr(retrieved, ["b"]) == 0.5
    assert mrr(retrieved, ["zzz"]) == 0.0
    assert ndcg_at_k(["a", "b"], ["a", "b"], 2) == pytest.approx(1.0)
    assert distractor_rate_at_k(retrieved, ["c", "d"], 4) == 0.5


def test_ir_metrics_df_matches_pure(spark):
    results = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2), ("q1", "x", 3), ("q2", "y", 1), ("q2", "e", 2)],
        "query_id string, id string, rank int",
    )
    expectations = spark.createDataFrame(
        [("q1", ["a", "c"]), ("q2", ["e"])],
        "query_id string, expected_ids array<string>",
    )
    got = {r.query_id: r for r in ir_metrics_df(results, expectations, k=3).collect()}
    assert got["q1"].recall_at_k == pytest.approx(recall_at_k(["a", "b", "x"], ["a", "c"], 3))
    assert got["q1"].mrr == pytest.approx(mrr(["a", "b", "x"], ["a", "c"]))
    assert got["q1"].ndcg_at_k == pytest.approx(ndcg_at_k(["a", "b", "x"], ["a", "c"], 3))
    assert got["q2"].mrr == pytest.approx(0.5)


def test_normalize_and_upsert_and_delete(spark):
    raw = spark.createDataFrame(
        [
            (1, "We decided to use Spark today.", [" Project:Alpha ", ""], None, 1.5, 100),
            (2, "plain note", None, "Insight", None, 200),
        ],
        "id int, content string, tags array<string>, type string, importance double, updated_at_epoch long",
    )
    norm = {r.id: r for r in normalize_memories(raw).collect()}
    assert norm[1].norm_type == "Decision" and norm[1].importance == 1.0
    assert "project:alpha" in norm[1].tag_prefixes
    assert norm[2].norm_type == "Insight" and norm[2].importance == 0.5

    current = spark.createDataFrame(
        [(1, "v1", 100), (2, "v1", 100)], "id int, content string, updated_at_epoch long"
    )
    incoming = spark.createDataFrame(
        [(1, "v2", 200), (3, "new", 50)], "id int, content string, updated_at_epoch long"
    )
    merged = {r.id: r.content for r in upsert_memories(current, incoming).collect()}
    assert merged == {1: "v2", 2: "v1", 3: "new"}

    ids = spark.createDataFrame([(1,)], "id int")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    remaining, new_edges = delete_by_ids(
        spark.createDataFrame([(1,), (2,), (3,)], "id int"), ids, edges
    )
    assert {r.id for r in remaining.collect()} == {2, 3}
    assert [(r.src, r.dst) for r in new_edges.collect()] == [(2, 3)]


def test_normalize_memory_type(spark):
    """X21 (automem/config.py:221-241): canonical passthrough, alias map,
    empty/null -> Context, unknown -> '' rejection marker."""
    from pyspark.sql import functions as F

    from automem_spark.operators.ingest import normalize_memory_type_expr

    df = spark.createDataFrame(
        [("Decision",), ("pattern",), ("memory",), ("health_habits",),
         ("bogus",), ("",), (None,)],
        "raw string",
    )
    st = normalize_memory_type_expr(F.col("raw"))
    rows = df.select("raw", st["normalized"].alias("n"), st["was_modified"].alias("m")).collect()
    out = {r["raw"]: (r["n"], r["m"]) for r in rows}
    assert out["Decision"] == ("Decision", False)
    assert out["pattern"] == ("Pattern", True)
    assert out["memory"] == ("Context", True)
    assert out["health_habits"] == ("Habit", True)
    assert out["bogus"] == ("", True)
    assert out[""] == ("Context", True)
    assert out[None] == ("Context", True)


def test_valid_uuid_expr(spark):
    from pyspark.sql import functions as F

    from automem_spark.operators.ingest import valid_uuid_expr

    df = spark.createDataFrame(
        [("0b441136-6442-4d9f-9e23-0f9f9a2b7f7a", True),
         ("0B441136-6442-4D9F-9E23-0F9F9A2B7F7A", True),
         ("not-a-uuid", False),
         ("0b4411366442-4d9f-9e23-0f9f9a2b7f7a", False),
         ("", False),
         (None, False)],
        "u string, expect boolean",
    )
    rows = df.select(valid_uuid_expr(F.col("u")).alias("v"), "expect").collect()
    assert all(r["v"] == r["expect"] for r in rows)


def test_backup_export_roundtrip(spark, tmp_path):
    """S10: every table lands as parquet and the manifest counts match."""
    from automem_spark.operators.ingest import backup_export

    mem = spark.range(25).withColumnRenamed("id", "mid")
    edges = spark.range(7).withColumnRenamed("id", "eid")
    manifest = {r["table"]: r["n_rows"] for r in
                backup_export({"memories": mem, "edges": edges}, str(tmp_path)).collect()}
    assert manifest == {"memories": 25, "edges": 7}
    assert spark.read.parquet(str(tmp_path / "memories")).count() == 25


def test_effective_sort_implicit_time_desc():
    """W3 (automem/api/recall.py:1784-1792)."""
    from automem_spark.operators.recall import RecallRequest, effective_sort

    # time-bounded browse, no relevance signal -> newest-first
    assert effective_sort(RecallRequest(query="", start="2026-01-01")) == "time_desc"
    assert effective_sort(RecallRequest(query="", end="2026-01-01")) == "time_desc"
    # any relevance signal or explicit sort wins
    assert effective_sort(RecallRequest(query="x", start="2026-01-01")) == "score"
    assert effective_sort(RecallRequest(query="", start="2026-01-01", sort="time_asc")) == "time_asc"
    assert effective_sort(RecallRequest(query="", start="2026-01-01"), has_vector=True) == "score"
    # no time bound -> ranking default stands
    assert effective_sort(RecallRequest(query="")) == "score"


def test_relevance_gate_scales_crumb_components(spark):
    """X4 (automem/utils/scoring.py:229-236): with the gate on and zero
    topical evidence, query-independent components ramp down linearly;
    gate=0 leaves scores bit-identical to legacy."""
    from dataclasses import replace as dc_replace
    from datetime import datetime

    from pyspark.sql import functions as F

    from automem_spark.functions.scoring import (
        DEFAULT_WEIGHTS,
        hybrid_score_sql_spark,
        token_array_sql,
    )

    df = spark.createDataFrame(
        [(1, "nothing topical here", ["unrelated"], 0.8, 1.0,
          datetime(2026, 5, 31))],
        "id long, content string, tags array<string>, importance double,"
        " confidence double, timestamp timestamp",
    )

    cand = df.withColumn("match_type", F.lit("keyword")).withColumn(
        "match_score", F.lit(0.0)
    )
    tokens = token_array_sql(["spark", "merge"])

    def score(w):
        sql = hybrid_score_sql_spark(tokens, "2026-06-01 00:00:00", w)
        return cand.select(F.expr(sql).alias("s")).collect()[0]["s"]

    ungated = score(DEFAULT_WEIGHTS)
    gated = score(dc_replace(DEFAULT_WEIGHTS, relevance_gate=0.5))
    # zero evidence -> scale 0 -> crumb components vanish entirely
    assert ungated > 0.0
    assert gated == 0.0


def test_create_associations_validation(spark):
    """S8 (automem/api/memory.py:62-75, :1042-1122): status precedence,
    type default + uppercase, strength coercion, per-type prop whitelist."""
    from pyspark.sql import functions as F

    from automem_spark.operators.ingest import create_associations

    mem = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    rows = [
        (0, "1", "2", "prefers_over", 1.7, {"context": "c", "reason": "r", "junk": "j"}),
        (1, "1", "2", None, -0.5, {"context": "c"}),          # default RELATES_TO, clamp 0
        (2, "1", "1", "RELATES_TO", 0.5, {}),                  # self
        (3, "", "2", "RELATES_TO", 0.5, {}),                   # missing id
        (4, "1", "2", "SIMILAR_TO", 0.5, {}),                  # system type -> rejected
        (5, "1", "99", "RELATES_TO", 0.5, {}),                 # dangling endpoint
        (6, "1", "3", "EXEMPLIFIES", None, {"pattern_type": "p"}),  # null strength -> 0.5
    ]
    reqs = spark.createDataFrame(
        rows,
        "idx long, memory1_id string, memory2_id string, rel_type string,"
        " strength double, props map<string,string>",
    )
    out = {r["idx"]: r for r in create_associations(reqs, mem, now="2026-06-01 00:00:00").collect()}
    assert out[0]["status"] == "created" and out[0]["strength"] == 1.0
    assert out[0]["kept_props"] == "context|reason"          # junk filtered
    assert out[1]["status"] == "created" and out[1]["rel_type"] == "RELATES_TO"
    assert out[1]["strength"] == 0.0 and out[1]["kept_props"] == ""
    assert out[2]["status"] == "rejected_self"
    assert out[3]["status"] == "rejected_missing_id"
    assert out[4]["status"] == "rejected_type"
    assert out[5]["status"] == "rejected_not_found"
    assert out[6]["status"] == "created" and out[6]["strength"] == 0.5
    assert out[6]["kept_props"] == "pattern_type"


def test_touch_last_accessed_and_sync_repair(spark):
    from datetime import datetime

    from pyspark.sql import functions as F

    from automem_spark.operators.ingest import sync_repair_plan, touch_last_accessed

    mem = spark.createDataFrame(
        [(1, "a", False, "Decision", datetime(2026, 1, 1)),
         (2, "b", True, "Decision", None),       # archived -> not repaired
         (3, "c", False, "MetaPattern", None),   # excluded type -> not repaired
         (4, "d", False, "Insight", None)],
        "id long, content string, archived boolean, type string, last_accessed timestamp",
    )
    touched = touch_last_accessed(mem, spark.createDataFrame([(4,)], "id long"), "2026-06-01 00:00:00")
    got = {r["id"]: r["last_accessed"] for r in touched.collect()}
    assert got[4] == datetime(2026, 6, 1)
    assert got[1] == datetime(2026, 1, 1) and got[2] is None  # untouched preserved

    vec = spark.createDataFrame([(1,)], "vec_id long")
    plan = {r["id"]: r["action"] for r in sync_repair_plan(mem, vec).collect()}
    assert plan == {4: "reembed"}


def test_content_size_policy_boundaries(spark):
    """Reference boundary table (tests/test_content_size.py): exactly at
    the soft limit -> ok, above -> summarize, at the hard limit ->
    summarize, above -> reject; empty/null -> ok."""
    from pyspark.sql import functions as F

    from automem_spark.operators.ingest import (
        apply_content_governance,
        content_size_policy_expr,
    )

    rows = [(1, ""), (2, None), (3, "x" * 500), (4, "x" * 501),
            (5, "x" * 2000), (6, "x" * 2001)]
    df = spark.createDataFrame(rows, "id bigint, content string")
    got = {r.id: r.action for r in df.select(
        "id", content_size_policy_expr(F.col("content")).alias("action")).collect()}
    assert got == {1: "ok", 2: "ok", 3: "ok", 4: "summarize",
                   5: "summarize", 6: "reject"}
    gov = {r.id: r for r in apply_content_governance(df).collect()}
    assert gov[4].original_content == "x" * 501
    assert len(gov[4].content) <= 240
    assert gov[3].original_content is None and gov[3].content == "x" * 500
    assert gov[6].content_action == "reject"  # caller routes to rejects sink


def test_coerce_embedding_matches_reference_table(spark):
    """Reference coercion rules (runtime_helpers.py:30-47): CSV with
    whitespace parses, wrong dimension and non-numeric components are
    rejected with distinct reasons, empty/null pass through as 'empty'
    (the reference returns None without raising)."""
    from pyspark.sql import functions as F

    from automem_spark.functions.vector import coerce_embedding_expr

    df = spark.createDataFrame(
        [(1, "1, 2,3.5,4"), (2, "1,2,3"), (3, "1,2,x,4"), (4, ""), (5, None),
         (6, "1,2,3,4,5")],
        "id bigint, e string",
    )
    got = {r.id: r.r for r in df.select(
        "id", coerce_embedding_expr(F.col("e"), 4).alias("r")).collect()}
    assert got[1]["status"] == "ok" and got[1]["embedding"] == [1.0, 2.0, 3.5, 4.0]
    assert got[2]["status"] == "wrong_dim" and got[2]["embedding"] is None
    assert got[3]["status"] == "non_numeric"
    assert got[4]["status"] == "empty" and got[5]["status"] == "empty"
    assert got[6]["status"] == "wrong_dim"
