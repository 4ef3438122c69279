"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship hybrid-recall query at sf0.001.
`queries()` exposes one DataFrame program per implemented operator from
SURVEY.md §2; `oracle_sql()` gives the DuckDB-equivalent SQL for each
(omitted only for hash-based ops DuckDB cannot reproduce — xxhash64-backed
MinHash/SimHash — which get the weaker rows-only check).

Determinism rules shared by both sides:
- every float output column is round()ed (cross-engine double parity)
- no raw timestamp columns in outputs (parquet ns vs µs); derive ints/strings
- every LIMIT has a total ordering (id tiebreak)
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from automem_spark.functions import scorespec
from automem_spark.functions.scoring import (
    decay_relevance_expr,
    hybrid_score_sql_spark,
    token_array_sql,
)
from automem_spark.functions.text import (
    assert_sql_literal_safe,
    fingerprint_fold_sql_duck,
)
from automem_spark.functions.tags import tag_filter_expr
from automem_spark.functions.text import extract_keywords
from automem_spark.functions.vector import norm_expr
from automem_spark.operators.asof import preceding_within_window
from automem_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash60_md5_expr,
)
from automem_spark.operators.recall import RecallRequest, keyword_channel, recall, base_filter
from automem_spark.operators.similarity import cosine_threshold_self_join
from automem_spark.operators.textquality import (
    LANG_MARKERS,
    lang_id_expr,
    quality_score_expr,
    token_count_expr,
)
from automem_spark.operators.consolidation import (
    cluster_summaries,
    creative_pairs,
    forget_classify,
)
from automem_spark.operators.enrich import enrich_pipeline
from automem_spark.operators.enrichment import (
    CLASSIFIER_PATTERNS,
    detect_patterns_batch,
)
from automem_spark.operators.entities import (
    apply_entity_merges,
    entity_expand,
    entity_identity_lookup,
    entity_merge_candidates,
    entity_ref_counts,
)
from automem_spark.operators.entity_extract import (
    extract_entities,
    extract_entities_oracle_ctes,
    extract_entities_oracle_sql,
)
from automem_spark.sources.entity_fixture import (
    entities_oracle_cte,
    entities_view,
    entity_refs_oracle_cte,
    entity_refs_view,
)
from automem_spark.operators.ingest import (
    backup_export,
    delete_by_ids,
    delete_by_tag,
    normalize_memories,
    upsert_memories,
    valid_uuid_expr,
)
from automem_spark.functions.tags import exclude_tags_expr
from automem_spark.operators.recall import (
    adaptive_score_floor,
    inject_priority_ids,
    recall_many_hybrid,
    recall_with_scope_fallback,
    recency_rerank,
)
from automem_spark.operators.similarity import cosine_topk_mapinpandas, ivf_topk
from automem_spark.functions.text import first_sentence_summary_expr, slugify_expr
from automem_spark.operators.graph import (
    connected_components,
    expand_relations,
    graph_neighbors,
    graph_snapshot,
    graph_stats,
    preference_ranking,
    related_memories_bfs,
    relations_fetch,
    resolve_supersession,
    sync_drift,
)
from automem_spark.operators.topk import top_k_per_group
from automem_spark.plans.parallelism import ensure_parallelism
from automem_spark.operators.decompose import decompose_query
from automem_spark.operators.state import current_state_filter
from automem_spark.sources.graph_fixture import EDGES_ORACLE_CTE, edges_view
from automem_spark.sources.tables import (
    ENTITY_FIXTURE_ORACLE_CTE,
    ENTITY_PEOPLE_PHRASES,
    ENTITY_PROJECT_PHRASES,
    ENTITY_TOOL_PHRASES,
    MEMORIES_ORACLE_CTE,
    entity_fixture_view,
    load_table,
    memories_view,
)

NOW = "2026-06-01 00:00:00"
RECALL_QUERY = "spark window merge fast"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Determinism helpers — shared with the operators since r8
# (automem_spark/functions/detmath.py has the full why-notes: float
# SUM/AVG are partial-aggregation-order dependent; round() of the SAME
# double diverges between engines at half boundaries — both caught as
# real divergences by the r7 sf1 sweep. text_stats' quality hit such a
# boundary at sf1: 0.5146875 -> .514687 vs .514688.)
from automem_spark.functions.detmath import (  # noqa: E402
    det_round as _det_round,
    dr_sql as _DR_SQL,
    us as _us,
    us_mean as _us_mean,
    us_mean_sql as _US_MEAN_SQL,
    us_sum_sql as _US_SUM_SQL,
)


# ---------------------------------------------------------------------------
# Relational core (aggregations A1-A6, joins, windows W4, set-ops SO5)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-side filter + hash agg (map-side partials).

    Engine analog: A1 type-counts/avg-confidence aggregations
    (reference automem/api/recall.py:2756-2767)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # micro-unit integer sums + deterministic rounding: float SUM/
            # AVG over doubles is partial-order-dependent and round() is
            # boundary-divergent between engines (r7 sf1 sweep findings)
            _det_round(F.sum(_us(F.col("l_quantity"))) / 1e6, 2).alias("sum_qty"),
            _det_round(F.sum(_us(F.col("l_extendedprice"))) / 1e6, 2).alias(
                "sum_base_price"
            ),
            _det_round(
                F.sum(_us(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 1e6,
                2,
            ).alias("sum_disc_price"),
            _det_round(
                F.sum(_us(F.col("l_quantity"))) / F.count(F.lit(1)) / 1e6, 6
            ).alias("avg_qty"),
            _det_round(
                F.sum(_us(F.col("l_extendedprice"))) / F.count(F.lit(1)) / 1e6, 6
            ).alias("avg_price"),
            _det_round(
                F.sum(_us(F.col("l_discount"))) / F.count(F.lit(1)) / 1e6, 6
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> agg -> top-k."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"))
        .agg(
            _det_round(
                F.sum(_us(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 1e6,
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join (broadcast dims) + group-agg."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            _det_round(
                F.sum(_us(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 1e6,
                2,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-per-group (W4/J1 shape — per-seed relation limit)."""
    orders = _t(spark, sf_dir, "orders")
    out = top_k_per_group(
        orders.select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total")),
        ["o_custkey"],
        [F.desc("total"), F.asc("o_orderkey")],
        3,
        rank_col="rank",
        keep_rank=True,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join — the sync-drift set difference (J12/SO5,
    automem/sync/runtime_worker.py:75)."""
    cust = _t(spark, sf_dir, "customer")
    big_orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        cust.join(big_orders, cust.c_custkey == big_orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_order_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-sum pivot (A6 graph-stats dashboard shape,
    automem/api/graph.py:366-458)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        _det_round(
            F.sum(_us(F.col("o_totalprice"))) / F.count(F.lit(1)) / 1e6, 6
        ).alias("avg_price"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(F.col("o_totalprice") >= 100000, 1).otherwise(0)).alias("n_large"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day histogram (A2, recall.py:2809-2833)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.hour("ts").cast("bigint").alias("hour")).agg(
        F.count("*").alias("n"),
        _det_round(F.sum(_us(F.col("value"))) / F.count(F.lit(1)) / 1e6, 6).alias(
            "avg_value"
        ),
    )


def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type counts + averages (A1, recall.py:2756-2767)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        _det_round(F.sum(_us(F.col("value"))) / F.count(F.lit(1)) / 1e6, 6).alias(
            "avg_value"
        ),
        F.count_distinct(F.col("user_id")).alias("n_users"),
    )


def q_event_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution buckets (A4, recall.py:2867-2887)."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 25, "low")
        .when(F.col("value") < 100, "medium")
        .otherwise("high")
    )
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        _det_round(F.sum(_us(F.col("value"))) / 1e6, 2).alias("total_value"),
    )


def q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference analytics (SURVEY §2.5 note): the reference computes
    A1/A2/A4 as separate Cypher passes; Spark's grouping sets give the whole
    lattice in ONE job — cube over (event_type, value bucket) with counts,
    totals, and grouping flags. One shuffle, map-side partials for every
    grouping set."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 25, "low")
        .when(F.col("value") < 100, "medium")
        .otherwise("high")
    )
    out = (
        ev.withColumn("bucket", bucket)
        .cube("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            _det_round(F.sum(_us(F.col("value"))) / 1e6, 2).alias("total_value"),
        )
    )
    return out.select(
        F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
        F.coalesce(F.col("bucket"), F.lit("(all)")).alias("bucket"),
        "n",
        "total_value",
    )


def q_preceded_by_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal linking as-of/range join (J13,
    automem/enrichment/runtime_helpers.py:15-71): newest 3 same-user events
    in the prior 7 days."""
    ev = _t(spark, sf_dir, "events")
    linked = preceding_within_window(
        ev, id_col="event_id", ts_col="ts", partition_cols=["user_id"],
        window_days=7.0, n_recent=3,
    )
    return linked.select("user_id", "id", "preceded_by", F.col("rank").cast("bigint").alias("rank"))


# ---------------------------------------------------------------------------
# Recall surface over the derived memories corpus (R3/R4/F1-F7/X1-X3/W1)
# ---------------------------------------------------------------------------

def q_tag_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-by-tag with prefix match + importance ordering (S6/F2,
    automem/api/memory.py:285-323, graph_store.py:18-37)."""
    mem = memories_view(spark, sf_dir)
    return (
        mem.filter(tag_filter_expr(F.col("tags"), ["lang:en"], mode="any", match="prefix"))
        .select("id", F.round("importance", 6).alias("importance"), "type")
        .orderBy(F.desc("importance"), F.asc("id"))
        .limit(20)
    )


def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph keyword search (R3, runtime_recall_helpers.py:595-724):
    +2 content / +1 tag per keyword + phrase bonus, normalized 0-1."""
    mem = memories_view(spark, sf_dir)
    pool = base_filter(mem, RecallRequest())
    out = keyword_channel(pool, RECALL_QUERY, 20)
    return out.select(
        "id", F.round("match_score", 6).alias("match_score"), "type",
        F.round("importance", 6).alias("importance"),
    )


def q_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending fallback (R4, runtime_recall_helpers.py:524-592)."""
    mem = memories_view(spark, sf_dir)
    pool = base_filter(mem, RecallRequest())
    return (
        pool.orderBy(F.desc("importance"), F.desc("timestamp"), F.asc("id"))
        .limit(10)
        .select("id", F.round("importance", 6).alias("importance"), "type")
    )


def q_hybrid_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: keyword channel -> hybrid linear re-score (X1-X3,
    automem/utils/scoring.py:137-280) -> deterministic sort (W1) -> top 10."""
    mem = memories_view(spark, sf_dir)
    req = RecallRequest(query=RECALL_QUERY, limit=10)
    out = recall(mem, req, now=NOW)
    return out.select(
        "id",
        "match_type",
        F.round("match_score", 6).alias("match_score"),
        F.round("final_score", 6).alias("final_score"),
    )


TIME_BROWSE_REQ = dict(
    query="", limit=25, exclude_tags=["lang:de"],
    start="2026-02-01 00:00:00", end="2026-04-15 00:00:00",
)


def q_time_browse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3+F3+F5+W2: a no-query time-bounded browse — exclude_tags + window
    filters feed the trending pool, and the implicit time_desc rule
    (automem/api/recall.py:1784-1792) decides the RANKING the oracle checks:
    if effective_sort failed to flip to time_desc, rank would follow the
    score ordering and the row hash would diverge."""
    from automem_spark.operators.recall import effective_sort, trending_channel

    mem = memories_view(spark, sf_dir)
    req = RecallRequest(**TIME_BROWSE_REQ)
    pool = base_filter(mem, req)
    cand = trending_channel(pool, req.limit)
    sort = effective_sort(req)
    if sort == "time_desc":
        ordering = [F.desc("timestamp"), F.asc("id")]
    elif sort == "time_asc":
        ordering = [F.asc("timestamp"), F.asc("id")]
    else:
        ordering = [F.desc("match_score"), F.desc("importance"), F.desc("timestamp"), F.asc("id")]
    return cand.select(
        "id",
        F.row_number().over(Window.orderBy(*ordering)).cast("bigint").alias("rank"),
        F.date_format("timestamp", "yyyy-MM-dd").alias("day"),
    )


MIN_SCORE_FLOOR = 0.38


def q_min_score_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 min_score floor (automem/api/recall.py:2580-2590): the hybrid
    recall with results below the floor dropped (filter on the unrounded
    final score, before the final sort)."""
    mem = memories_view(spark, sf_dir)
    req = RecallRequest(query=RECALL_QUERY, limit=10, min_score=MIN_SCORE_FLOOR)
    out = recall(mem, req, now=NOW)
    return out.select(
        "id",
        "match_type",
        F.round("match_score", 6).alias("match_score"),
        F.round("final_score", 6).alias("final_score"),
    )


# X21 fixture: raw type strings cycled over canonical / alias / legacy /
# empty / unknown cases; index 9 is replaced by NULL to cover the None path.
RAW_TYPE_CYCLE = [
    "Decision", "pattern", "memory", "analysis", "observation", "template",
    "health_habits", "communication", "bogus-type", "", "Insight", "person",
    "legal_analysis",
]
_RAW_NULL_IDX = 9


def q_type_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X21 memory-type alias normalization (automem/config.py:187-241)."""
    from automem_spark.operators.ingest import normalize_memory_type_expr

    docs = _t(spark, sf_dir, "documents")
    idx = (F.col("doc_id") % len(RAW_TYPE_CYCLE)).cast("int")
    raw = F.when(idx == _RAW_NULL_IDX, F.lit(None).cast("string")).otherwise(
        F.element_at(F.array(*[F.lit(t) for t in RAW_TYPE_CYCLE]), idx + 1)
    )
    st = normalize_memory_type_expr(raw)
    return docs.select(
        "doc_id",
        F.coalesce(raw, F.lit("<null>")).alias("raw_type"),
        st["normalized"].alias("normalized"),
        st["was_modified"].cast("int").alias("was_modified"),
    )


def q_decay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 decay-pass rollup (consolidation.py:1023-1115): one-row run stats
    over the non-archived corpus."""
    from automem_spark.operators.consolidation import decay_stats

    mem = memories_view(spark, sf_dir)
    return decay_stats(mem, now=NOW, rel_count=F.col("n_chars") % 10)


# ST5 fixture schedule at NOW=2026-06-01: decay (2 days ago) and creative
# (12 days ago) are overdue, identity never ran; cluster (17 < 30 days) and
# forget (61 < 90 days) are not due. The due-decision itself is pure driver
# logic pinned by tests/test_enrichment_consolidation.py; the oracle checks
# the composed stats of the passes that ran.
CONSOLIDATION_LAST_RUNS = {
    "decay": "2026-05-30 00:00:00",
    "creative": "2026-05-20 00:00:00",
    "cluster": "2026-05-15 00:00:00",
    "forget": "2026-04-01 00:00:00",
    "identity": None,
}


def q_consolidation_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 consolidation scheduler run (consolidation.py:1118-1234): gate
    each pass on its cadence, execute the due ones (C1 decay rollup, C2
    creative, C5 identity here), report uniform (task, metric, value)."""
    from automem_spark.operators.scheduler import consolidation_run

    mem = memories_view(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    edges = edges_view(spark, sf_dir)
    out = consolidation_run(
        spark,
        now=NOW,
        last_runs=CONSOLIDATION_LAST_RUNS,
        memories=mem,
        edges=edges,
        embeddings=emb,
        entities=entities_view(spark),
        entity_refs=entity_refs_view(spark),
        decay_rel_count=F.col("n_chars") % 10,
    )
    return out.select("task", "metric", F.round("value", 6).alias("value"))


def q_decay_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidation decay scoring (C1/X6, consolidation.py:227-282) over the
    derived corpus; rel_count stand-in is a deterministic per-row value."""
    mem = memories_view(spark, sf_dir)
    scored = mem.withColumn(
        "relevance_score",
        F.round(
            decay_relevance_expr(
                timestamp=F.col("timestamp"),
                last_accessed=F.col("timestamp"),
                importance=F.col("importance"),
                confidence=F.col("confidence"),
                rel_count=F.col("n_chars") % 10,
                now=F.lit(NOW).cast("timestamp"),
            ),
            6,
        ),
    )
    return scored.select("id", "relevance_score")


# ---------------------------------------------------------------------------
# Graph layer over the derived edges fixture (J1/J2/J4/J6/J12/A5/A6/C3)
# ---------------------------------------------------------------------------

def q_relations_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: top-5 outgoing relations per memory (runtime_relations.py:21-76)."""
    edges = edges_view(spark, sf_dir)
    mem = memories_view(spark, sf_dir)
    out = relations_fetch(edges, mem, 5)
    return out.select(
        "src", "dst", "rel_type", F.round("strength", 6).alias("strength"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_relation_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: 1-hop undirected expansion from trending seeds (recall.py:1498-1700)."""
    edges = edges_view(spark, sf_dir)
    mem = memories_view(spark, sf_dir)
    pool = base_filter(mem, RecallRequest())
    seeds = (
        pool.orderBy(F.desc("importance"), F.desc("timestamp"), F.asc("id"))
        .limit(10)
        .select("id", F.col("importance").alias("final_score"))
    )
    out = expand_relations(seeds, edges, mem)
    return out.select(
        "seed_id", "dst", "rel_type",
        F.round("strength", 6).alias("strength"),
        F.round("relation_score", 6).alias("relation_score"),
    )


def q_supersession_heads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: supersession chain resolution, ≤5 hops, cycle-safe (recall.py:452-593)."""
    edges = edges_view(spark, sf_dir)
    return resolve_supersession(edges)


def q_related_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: ≤3-hop undirected traversal, distinct targets (recall.py:2893-2997)."""
    edges = edges_view(spark, sf_dir)
    mem = memories_view(spark, sf_dir)
    return related_memories_bfs([0, 5, 10], edges, mem, max_depth=3)


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 clustering core: connected components over the cosine>=0.25
    similarity graph (consolidation.py:457-617)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    pairs = cosine_threshold_self_join(emb, 0.25, item_id="vec_id")
    labels = connected_components(pairs, emb.select(F.col("vec_id").alias("id")))
    return labels.select("id", "component")


def q_preference_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: PREFERS_OVER by strength, top-10 (recall.py:2791-2806)."""
    return preference_ranking(edges_view(spark, sf_dir))


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-rel-type counts + avg strength with legacy canonicalization
    (automem/api/graph.py:366-458)."""
    return graph_stats(edges_view(spark, sf_dir))


SNAPSHOT_TYPES = ("Decision", "Pattern", "Preference", "Insight")
SNAPSHOT_SINCE = "2026-02-01 00:00:00"


def q_graph_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 snapshot export (automem/api/graph.py:51-208): filtered top-N node
    selection, induced-subgraph edges, viewer visual properties. Output is
    the induced edge list with each endpoint's visual property joined in."""
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    nodes, sedges = graph_snapshot(
        mem, edges, limit=120, min_importance=0.2,
        types=SNAPSHOT_TYPES, since=SNAPSHOT_SINCE,
    )
    out = (
        sedges.join(
            nodes.select(F.col("id").alias("source"), F.col("radius").alias("src_radius")),
            "source",
        )
        .join(
            nodes.select(F.col("id").alias("target"), F.col("opacity").alias("tgt_opacity")),
            "target",
        )
    )
    return out.select(
        "source", "target", "rel_type",
        F.round("strength", 6).alias("strength"),
        F.round("src_radius", 6).alias("src_radius"),
        F.round("tgt_opacity", 6).alias("tgt_opacity"),
    )


def q_graph_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 viewer neighbors (automem/api/graph.py:210-364): 2-hop undirected
    BFS from the hub node union top-5 semantic neighbors, seen-node dedup."""
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    out = graph_neighbors(5, edges, mem, emb, depth=2, semantic_limit=5)
    return out.select("id", "source", "depth", "sim", "importance")


def q_sync_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: edges targeting archived memories (sync/runtime_worker.py:53-104)."""
    edges = edges_view(spark, sf_dir)
    mem = memories_view(spark, sf_dir)
    return sync_drift(edges, mem)


# ---------------------------------------------------------------------------
# Dedup family over documents
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "dup_count")


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 320-char content fingerprint (R7/X9,
    recall.py:310-323) as corpus-level dedup."""
    docs = _t(spark, sf_dir, "documents")
    return fingerprint_dedup(docs).select("doc_id", "dup_count")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (j >= 0.4) on a bounded slice."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(docs, 0.4, n=3)
    return pairs.select("src", "dst", F.round("jaccard", 6).alias("jaccard"))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (scale path; xxhash64 — no SQL oracle, the exact
    Jaccard twin above is the semantic check)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, 0.4, n=3, num_hashes=64, bands=32)
    return pairs.select("src", "dst", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup verdict: exact 3-gram Jaccard pairs
    (j >= 0.4, bounded slice so the DuckDB twin can brute-force) →
    connected components → min-id representative per duplicate cluster —
    pairwise similarity turned into the KEEP/DROP decision, transitively
    (at corpus scale the pair generator swaps to minhash_lsh_pairs; the
    decision step is identical)."""
    from automem_spark.operators.dedup import near_dup_dedup

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(docs, 0.4, n=3)
    return near_dup_dedup(docs, pairs).select("id", "component", "keep")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints. Uses the md5-token-hash twin of the xxhash64
    production expression so the full bit-vote algorithm is value-checked
    against the DuckDB oracle (the xxhash64 fingerprint stays unit-tested)."""
    # r14: parallelize the single-split fixture scan (see q_lang_id)
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", simhash60_md5_expr(F.col("text")).alias("simhash"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: banded hamming join — 4 contiguous chunks
    bucket the corpus, so any pair at hamming <= 3 collides in some band
    (pigeonhole) and popcount-verify makes the output EQUAL to the
    brute-force O(N²) hamming join the oracle runs. The md5 twin hash makes
    the whole band+verify pipeline value-checkable cross-engine; the
    xxhash64 production fingerprint runs the same code path (unit tests)."""
    from automem_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(
        docs, 3, sim_expr=simhash60_md5_expr(F.col("text")), n_bits=60, bands=4
    )


# ---------------------------------------------------------------------------
# Vector / similarity search over embeddings
# ---------------------------------------------------------------------------

def q_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector top-K cosine (R1, runtime_recall_helpers.py:940-1030): top 10
    neighbors of vec_id=0's embedding, double-precision cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        ("q0", [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") == 0).collect()
    ]
    out = cosine_topk_mapinpandas(emb, qvec, 10, item_id="vec_id")
    return out.select(F.col("id").alias("vec_id"), F.round("sim", 5).alias("sim"))


def q_vector_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-neighbor threshold self-join (J14,
    automem/enrichment/runtime_helpers.py:177-254) on a bounded slice."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    pairs = cosine_threshold_self_join(emb, 0.25, item_id="vec_id")
    return pairs.select("src", "dst", F.round("sim", 5).alias("sim"))


def q_label_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats (agg over a vector column)."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        _us_mean(norm_expr(F.col("embedding")), 6).alias("avg_norm"),
    )


# ---------------------------------------------------------------------------
# Text analysis over documents
# ---------------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: the sf0.1 fixture scans as ONE split, serializing the per-row
    # regex votes onto one core; ensure_parallelism is a no-op on genuinely
    # parallel scans (guide §2.2 — measured −31% noop, /tmp A/B + bench).
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return (
        docs.withColumn("detected_lang", lang_id_expr(F.col("text")))
        .groupBy("lang", "detected_lang")
        .agg(F.count("*").alias("n"))
    )


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling — the pre-training census every data pipeline runs
    before a corpus ships: per-language doc counts, distinct sources, token
    means, and length quantiles, one grouped pass. Exact percentile here so
    the DuckDB twin value-matches; the 100 TB variant swaps in
    percentile_approx (t-digest, map-side mergeable) and
    approx_count_distinct (HLL) — same plan shape, no full sort per group."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        # token counts are integers, so the micro-unit detour is unneeded:
        # an integer SUM is already exact/order-independent on both engines
        _det_round(
            F.sum(token_count_expr(F.col("text")).cast("long")) / F.count("*"), 4
        ).alias("avg_tokens"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 4).alias("p95_chars"),
    )


def q_training_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set selection — the gate composition a data pipeline ships:
    detected-language filter (n-gram heuristic) AND quality floor AND
    exact-dedup keeper (one representative per normalized-content class),
    then a per-source census of survivors. Each gate exists as its own
    oracle row; this row pins their conjunction."""
    from automem_spark.operators.dedup import exact_dedup, normalized_text_expr

    # r15: parallelize the single-split fixture scan (see q_lang_id) — the
    # language/quality gate expressions and BOTH normalized-text hash
    # passes below otherwise run on 1-2 cores
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    reps = exact_dedup(docs).select("content_hash", F.col("doc_id").alias("_keeper"))
    h = F.xxhash64(normalized_text_expr(F.col("text")))
    annotated = (
        docs.withColumn("content_hash", h)
        .join(reps, "content_hash")
        .withColumn("detected", lang_id_expr(F.col("text")))
        # 6-dp per-row rounding BEFORE the gate and the average: per-row
        # values are engine-identical doubles, so rounding here is
        # deterministic, and it keeps the threshold comparison and the
        # aggregation consistent with the oracle's rounded fragment
        .withColumn("quality", F.round(quality_score_expr(F.col("text")), 6))
    )
    # r15: the language/quality gate goes through barrier_filter — a plain
    # filter gets the full lang_id/quality expression chains substituted in
    # and pushed below the round-robin to the 1-2-split scan, re-running
    # them per row on two cores AND duplicating the quality evaluation the
    # census still needs above (plans/pushdown.py; measured 6.18 -> 4.3 s
    # at .sf1). The cheap keeper equality stays a plain filter.
    from automem_spark.plans.pushdown import barrier_filter

    selected = barrier_filter(
        annotated, (F.col("detected") == "en") & (F.col("quality") >= 0.45)
    ).filter(F.col("doc_id") == F.col("_keeper"))
    # The quality average must be ORDER-INSENSITIVE: float summation order
    # varies run-to-run with partial-aggregation scheduling, and a 6-dp
    # round of a double avg can flip its last digit on a boundary (observed
    # flake). Aggregate integer micro-units instead — per-row rounding is
    # deterministic and engine-identical, integer sums are exact — then one
    # final division on both engines.
    micro = F.round(F.col("quality") * 1e6, 0).cast("long")
    return selected.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum(micro) / F.count("*") / 1e6, 6).alias("avg_quality"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training docs sharing word 3-grams
    with an eval slice (doc_id % 10 == 0 AND < 100 stands in for the
    benchmark set). Training-pipeline op beyond the reference's surface
    (nearest analog: the dedup family, `automem/consolidation.py`); the
    GPT-3-style n-gram overlap rule. r14: the Arrow kernel twin is the
    default (per-doc shingle-set intersection against the broadcast eval
    set — no train-side explode, no join, no hit-count shuffle; raced
    interleaved same-JVM, noop sink, warm min-of-2: −28/−57/−77% at
    sf0.1/.sf1/.sf10); `decontaminate` stays the SQL-expressible oracle
    anchor, bit-identity pinned in tests/test_trainprep.py."""
    from automem_spark.operators.trainprep import decontaminate_map

    # r14: parallelize the single-split fixture scan (see q_lang_id) — the
    # per-doc kernel runs on scan partitioning
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    is_eval = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100)
    return decontaminate_map(docs.filter(~is_eval), docs.filter(is_eval))


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-set contamination — the complement of the
    n-gram `decontaminate` row: flags training vectors whose max cosine
    against ANY eval vector reaches the threshold (paraphrase/translation
    leakage n-grams cannot see). Eval refs = vec_id % 97 == 0 (~1% of the
    table); threshold 0.35 is fixture-calibrated (the synthetic
    embeddings' cross-pair cosine ceiling is ~0.47; a production pipeline
    with trained embeddings runs ~0.95) so both outcomes occur."""
    return _semantic_decontaminate_df(spark, sf_dir)


def _semantic_decontaminate_df(
    spark: SparkSession, sf_dir: str, part: tuple[int, int] | None = None
) -> DataFrame:
    """`part=(k, n)` restricts the TRAIN side to `vec_id % n == k` (the
    eval set stays whole) — each training item's verdict is independent, so
    the row decomposes into n sub-checks the sf3 sweep can resume across
    (one full run exceeds a sweep chunk at 30x; see sweep_part).

    r9: the row RUNS the broadcast-matmul twin (exact semantics, one Arrow
    scan, zero shuffle), so the driver cross-verifies the shipped default
    against the SQL oracle — the repetition_filter playbook. The race
    (scripts/race_decontaminate.py, BENCH_SF1.md): matmul 0.58s vs the
    expression path's 143.8s at the oracle config; the expression path
    stays the oracle's structural anchor and the property test pins
    twin equality (tests/test_trainprep.py)."""
    from automem_spark.operators.trainprep import semantic_decontaminate_matmul

    emb = _t(spark, sf_dir, "embeddings")
    is_eval = F.col("vec_id") % 97 == 0
    train = emb.filter(~is_eval)
    if part is not None:
        k, n = part
        train = train.filter(F.col("vec_id") % n == k)
    return semantic_decontaminate_matmul(train, emb.filter(is_eval), threshold=0.35)


def _plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministic modulo-derived PII appended to the synthetic docs so
    the scrubber has real positives; the oracle plants identical strings.
    Shared by the pii_redact row and the training_pipeline composite."""
    d = F.col("doc_id")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(d % 7 == 0, F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(d % 11 == 0, F.concat(F.lit(" call 555-123-"), F.lpad((d % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
            F.when(d % 13 == 0, F.concat(F.lit(" host 10.0."), (d % 256).cast("string"), F.lit(".1"))).otherwise(F.lit("")),
            F.when(d % 17 == 0, F.concat(F.lit(" ssn 123-45-"), F.lpad((d % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
        ),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with per-category counts over the planted corpus.
    All scan-speed column expressions."""
    from automem_spark.operators.trainprep import pii_redact

    # r14: parallelize the single-split fixture scan (see q_lang_id);
    # repartition BEFORE planting so the shuffle carries the original text
    return pii_redact(_plant_pii(ensure_parallelism(_t(spark, sf_dir, "documents"))))


MIX_RATES = {"src0": 1.0, "src1": 0.8, "src2": 0.5, "src3": 0.25, "src4": 0.0}


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data preparation pipeline as ONE job — the
    composition a 100 TB pretraining run ships, each stage already verified
    as its own oracle row:

      PII scrub (pii_redact) → language + quality gates (lang_id,
      text_stats) → benchmark decontamination (decontaminate) → exact-dedup
      keeper (training_selection) → deterministic mix sampling (data_mix)
      → sequence packing (seq_pack) → per-source census.

    Scale shape: the scrub + gates are scan-level column expressions, but
    the gated frame feeds THREE consumers (decontamination's n-gram
    explode, the survivor join, the dedup window) — so it is materialized
    ONCE after the gates (at 100 TB: an intermediate table write) instead
    of re-running the regex chain per consumer; likewise the sampled frame
    before its two consumers. Remaining corpus shuffles: the dedup-keeper
    window, the decontamination hit count, the packing window. Output: one
    row per source that survives the mix sampler.
    """
    return _training_pipeline_df(spark, sf_dir)


def _training_pipeline_df(
    spark: SparkSession, sf_dir: str, part: tuple[int, int] | None = None
) -> DataFrame:
    """`part=(k, n)` runs the WHOLE pipeline on the sub-corpus
    `doc_id % n == k` (a legitimate smaller-corpus run — every stage
    including the dedup keeper and packing windows operates within the
    sub-corpus on BOTH engines), so the sf3 sweep can verify the row in n
    resumable sub-checks (one full run exceeds a sweep chunk at 30x)."""
    from automem_spark.operators.dedup import normalized_text_expr
    from automem_spark.operators.trainprep import (
        data_mix_sample,
        decontaminate_map,
        pack_sequences,
        pii_redact,
    )
    from automem_spark.plans.checkpoint import maybe_checkpoint

    docs = _t(spark, sf_dir, "documents")
    if part is not None:
        k, n = part
        docs = docs.filter(F.col("doc_id") % n == k)
    # r15: the standalone pii_redact/lang_id/text_stats rows repartition
    # their single-split scans (r14 §10) but the composed pipeline did not —
    # so the PII regex chain + language/quality gates ran on 1-2 cores
    # inside the `gated` checkpoint job. Same no-op-on-parallel posture.
    docs = ensure_parallelism(docs)
    # keep_cols carries `source` through the scrub — no corpus-sized
    # re-join on doc_id just to recover it (r5 advisor nit)
    clean = pii_redact(_plant_pii(docs), keep_cols=["source"]).select(
        "doc_id", "source", F.col("clean_text").alias("text")
    )
    # r15: barrier_filter for the same reason as q_training_selection —
    # a plain filter pushes the substituted lang/quality chains (over the
    # PII-cleaned text, so the whole redaction chain rides along) below
    # the round-robin to the scan (plans/pushdown.py)
    from automem_spark.plans.pushdown import barrier_filter

    gated = maybe_checkpoint(
        barrier_filter(
            clean.withColumn("detected", lang_id_expr(F.col("text")))
            .withColumn("quality", F.round(quality_score_expr(F.col("text")), 6)),
            (F.col("detected") == "en") & (F.col("quality") >= 0.4),
        )
    )
    is_eval = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100)
    train = gated.filter(~is_eval)
    # r14: the Arrow kernel twin (see q_decontaminate) — values identical
    decon = decontaminate_map(train, docs.filter(is_eval))
    surviving = train.join(
        decon.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    keeper_w = Window.partitionBy(normalized_text_expr(F.col("text")))
    deduped = (
        surviving.withColumn("_keeper", F.min("doc_id").over(keeper_w))
        .filter(F.col("doc_id") == F.col("_keeper"))
        .drop("_keeper")
    )
    sampled = maybe_checkpoint(data_mix_sample(deduped, MIX_RATES))
    packed = pack_sequences(sampled, window_tokens=512, shards=4)
    micro = F.round(F.col("quality") * 1e6, 0).cast("long")
    return (
        packed.join(sampled.select("doc_id", "quality"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.countDistinct("shard", "window_id").alias("n_windows"),
            F.round(F.sum(micro) / F.count("*") / 1e6, 6).alias("avg_quality"),
        )
    )


def q_data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mix sampling census: per-source keep decision is
    a pure md5-bucket predicate (reproducible across runs and engines — the
    property a training-data lineage audit needs), aggregated in one pass.
    Sources outside MIX_RATES sample at 0."""
    from automem_spark.operators.trainprep import mix_census

    docs = _t(spark, sf_dir, "documents")
    return mix_census(docs, MIX_RATES)


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing census: fixed-boundary packing of token counts into
    512-token context windows, sharded by (source, md5-bucket % 4) so no
    single reducer sees a whole source (the 100 TB-safe shape — one shuffle,
    shard-local running offsets)."""
    from automem_spark.operators.trainprep import packing_census

    docs = _t(spark, sf_dir, "documents")
    return packing_census(docs, window_tokens=512, shards=4)


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share over lineitem×part — covers the
    `part` dimension (the one driver table the registry didn't touch).
    Part (2k rows/SF) broadcasts; the share denominator is a window over
    the 6 aggregated type rows, not the fact table."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_type = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        # integer micro-unit sum: order-independent, and the share ratio
        # below divides two exact integers on both engines
        .agg(F.sum(_us(rev)).alias("_rev_us"), F.count("*").alias("n_items"))
    )
    w = Window.partitionBy()
    return per_type.select(
        "p_type",
        _det_round(F.col("_rev_us") / 1e6, 2).alias("revenue"),
        "n_items",
        _det_round(F.col("_rev_us") / F.sum("_rev_us").over(w), 6).alias("share"),
    )


def q_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped supplier revenue by nation — covers the `supplier`
    dimension. Both dims broadcast (100 and 25 rows/SF); one shuffle for
    the nation rollup."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            _det_round(F.sum(_us(rev)) / 1e6, 2).alias("revenue"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
    )


def q_content_governance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 store-path content-size governance (automem/api/memory.py:484-525,
    utils/text.py:191-213): tri-state ok/summarize/reject on soft/hard char
    limits; summarize rows keep the original and store the X18 extractive
    summary (the LLM summarizer is behind the offline seam, as in U4).
    Documents are deterministically stretched (repeat by doc_id residue) so
    all three states occur."""
    from automem_spark.operators.ingest import apply_content_governance

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    stretched = docs.select(
        "doc_id",
        F.when(d % 9 == 0, F.repeat(F.concat(F.col("text"), F.lit(" ")), 10))
        .when(d % 9 == 1, F.repeat(F.concat(F.col("text"), F.lit(" ")), 3))
        .otherwise(F.col("text"))
        .alias("content"),
    )
    return apply_content_governance(stretched).select(
        "doc_id", "content_action", "content", "original_content"
    )


def q_embedding_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Client-embedding coercion (runtime_helpers.py:30-47): CSV strings to
    validated fixed-dim vectors, invalid rows flagged instead of failing
    the job. Inputs planted by doc_id residue so every status occurs.
    Driver row emits the vector as a micro-unit integer CSV string
    (embedding_us) rather than a raw array column — LIST columns crash the
    driver's pandas canonicalizer (r6 red row); the array<double> API is
    covered by tests/test_vector.py."""
    from automem_spark.functions.vector import coerce_embedding_expr

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.when(
            d % 5 == 0,
            F.concat_ws(
                ",",
                (d % 7).cast("string"),
                (d % 11).cast("string"),
                F.concat(F.lit(" "), (d % 13).cast("string")),
                (d % 3).cast("string"),
            ),
        )
        .when(d % 5 == 1, F.lit("1,2,3"))
        .when(d % 5 == 2, F.lit("a,b,c,d"))
        .when(d % 5 == 3, F.lit(""))
        .otherwise(F.lit(None).cast("string"))
        .alias("e"),
    )
    r = coerce_embedding_expr(F.col("e"), 4)
    emb_us = F.array_join(
        F.transform(
            r["embedding"], lambda x: F.round(x * 1e6).cast("bigint").cast("string")
        ),
        ",",
    )
    return planted.select(
        "doc_id", r["status"].alias("status"), emb_us.alias("embedding_us")
    )


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition hygiene (Rae et al. 2021 table A1): per-doc
    duplicate-word / top-bigram / duplicate-trigram fractions + keep
    verdict. No reference counterpart (its quality gates are per-memory,
    automem/utils/enrichment_quality.py) — this is the corpus-scale filter
    a pretraining pipeline runs. Docs are deterministically degraded by
    doc_id residue so both keep outcomes occur: %7==0 gets a spammed
    bigram tail (top-bigram trigger), %7==1 is self-concatenated
    (duplicate-trigram trigger).

    Runs the SHIPPED default — the zero-shuffle ``mapInPandas`` twin,
    which won the r8 race (sf1 3.98s vs 5.44s, sf3 10.01s vs 15.42s,
    noop sink, scripts/race_repetition.py) — so the driver gate
    cross-verifies the default path against the oracle; the expression
    path stays the SQL-expressible anchor and is bit-identical by
    property test (tests/test_corpus_hygiene.py)."""
    from automem_spark.operators.textquality import repetition_filter_map

    # r14: parallelize the single-split fixture scan (see q_lang_id);
    # repartition BEFORE planting so the shuffle carries the original text
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.when(d % 7 == 0, F.concat(F.col("text"), F.repeat(F.lit(" spark graft"), 30)))
        .when(d % 7 == 1, F.concat_ws(" ", F.col("text"), F.col("text"), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repetition_filter_map(planted).select(
        "doc_id", "dup_word_frac", "top_bigram_frac", "dup_trigram_frac", "keep"
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (64-word chunks, stride 48) with
    md5 content addresses — the prep step between cleaning and
    tokenization, and the retrieval-chunk shape. One generate-and-explode
    projection: no shuffle, no UDF; md5 chunk ids make chunk-level dedup a
    plain groupBy downstream."""
    from automem_spark.operators.trainprep import chunk_documents

    # r14: parallelize the single-split fixture scan (see q_lang_id)
    return chunk_documents(ensure_parallelism(_t(spark, sf_dir, "documents")))


# Shared boilerplate paragraph planted into every doc_id % 11 == 3 document
# (80 distinct tokens -> exactly two 64-word chunks at the default stride):
# the classic mirrored-boilerplate corpus defect chunk-level dedup exists to
# catch. The first such doc keeps its chunks; every later copy scores
# dup_chunk_frac 1.0 and fails the keep gate.
_CHUNK_BOILER = " ".join(f"boiler{i:02d}" for i in range(80))


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup — the pipeline step a RAG/pretraining user runs
    right after `doc_chunks`: md5-addressed chunks, first-occurrence keeper
    per chunk_md5, per-doc duplicate-chunk fraction + keep verdict. The
    planted boilerplate docs score 1.0 (keep=false); the fixture's natural
    short-doc duplicates land at 0.5 (keep=true at the 0.5 ceiling). Two
    shuffles total (chunk_md5 rank, doc rollup)."""
    from automem_spark.operators.trainprep import chunk_dedup

    # r14: parallelize the single-split fixture scan (see q_lang_id)
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 3, F.lit(_CHUNK_BOILER))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return chunk_dedup(planted)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: one tokenization per row via text_stats_frame (bit-identical to
    # the three separate expressions — pinned in tests/test_operators.py);
    # size-dispatched to the Arrow kernel twin above the measured
    # crossover (text_stats_auto — frame at driver SFs, kernel at .sf1+)
    from automem_spark.operators.textquality import text_stats_auto

    # r14: parallelize the single-split fixture scan (see q_lang_id)
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    out = text_stats_auto(docs.select("doc_id", "text"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        _det_round(F.col("quality"), 6).alias("quality"),
    )


def q_text_stats_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forced-kernel twin of q_text_stats (r15, VERDICT r14 ask #2): calls
    text_stats_map directly — no size dispatch — so the DuckDB oracle
    executes the Arrow-kernel branch at driver scale. text_stats_auto's
    estimate dispatch keeps the kernel structurally unreachable below
    ~15k actual rows, which made the kernel's default path at .sf1+
    invisible to the driver gate; this row closes that gap permanently.
    Values are bit-identical to text_stats by the pinned contract
    (tests/test_operators.py), so both rows share one oracle SQL."""
    from automem_spark.operators.textquality import text_stats_map

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    out = text_stats_map(docs.select("doc_id", "text"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        _det_round(F.col("quality"), 6).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Enrichment + consolidation (U3 tier 1, A7, C2, C3, C4, R10/R11)
# ---------------------------------------------------------------------------

# Trigger phrases appended deterministically so the tier-1 classifier has
# signal: each phrase matches exactly one pattern of one type.
TRIGGER_PHRASES = [
    " decided to go",      # Decision
    " usually slow",       # Pattern
    " prefer hash join",   # Preference
    " formatted as csv",   # Style
    " every time",         # Habit
    " realized this",      # Insight
    " during testing",     # Context
    "",                    # fallback -> Memory / 0.3
]

_TRIGGER_TYPES = [
    ("Decision", 0.6), ("Pattern", 0.6), ("Preference", 0.6), ("Style", 0.6),
    ("Habit", 0.6), ("Insight", 0.6), ("Context", 0.6), ("Memory", 0.3),
]


def _triggered_content():
    cases = F.element_at(
        F.array(*[F.lit(p) for p in TRIGGER_PHRASES]), (F.col("doc_id") % 8 + 1).cast("int")
    )
    return F.concat(F.col("text"), cases)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document prefix fingerprinting: base-31 polynomial rolling hash over
    the first 8 word residues. Uses the md5-residue twin of the xxhash64
    production expression so the fold is value-checked by the oracle
    (rolling_hash_expr itself stays unit-tested)."""
    from automem_spark.operators.textquality import rolling_hash_md5_expr

    # r14: parallelize the single-split fixture scan (see q_lang_id)
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", rolling_hash_md5_expr(F.col("text")).alias("prefix_fp")
    )


def q_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 tier-1 regex classifier (memory_classifier.py:13-140) over content
    with injected trigger phrases. Fast path: the static 50-rlike chain is
    parsed from SQL text in one F.expr instead of ~0.4s of py4j tree calls
    (equivalence pinned in tests/test_metadata_search.py's sibling suite)."""
    from automem_spark.operators.enrichment import classify_memory_fast

    # r14: parallelize the single-split fixture scan (see q_lang_id)
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    out = classify_memory_fast(docs, _triggered_content(), "_cls")
    return out.select(
        "doc_id",
        F.col("_cls")["type"].alias("mem_type"),
        F.round(F.col("_cls")["confidence"], 6).alias("cls_confidence"),
    )


def q_pattern_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 batch pattern detection (enrichment/runtime_helpers.py:74-174)."""
    mem = memories_view(spark, sf_dir)
    out = detect_patterns_batch(mem)
    return out.select(
        F.col("type").alias("mem_type"), "n_members", "term", "term_count",
        F.col("rank").cast("bigint").alias("rank"),
    )


# ST2 composed enrichment pipeline. The corpus is the memories fixture with
# the entity-phrase suffixes (U2 signal) plus the classifier trigger phrases
# (U3 signal) so every stage has deterministic work. Sliced to id < 150 to
# keep the oracle's exact all-pairs neighbor join inside the bound already
# value-proven by `vector_pairs`.
ENRICH_SLICE = 150


def q_enrich_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2: the full enrichment DAG composed as ONE batch job
    (automem/enrichment/runtime_orchestration.py:165-315): classify (U3) ->
    extract entities (U2) -> entity tags -> tag_prefixes (X12) -> temporal
    links (J13) -> semantic neighbors (J14) -> patterns (A7) -> summary
    (X18). Array outputs are '|'-joined for cross-engine hashing."""
    mem = memories_view(spark, sf_dir).filter(F.col("id") < ENRICH_SLICE)
    phrases = entity_fixture_view(spark, sf_dir).withColumnRenamed("content", "pcontent")
    trigger = F.element_at(
        F.array(*[F.lit(p) for p in TRIGGER_PHRASES]), (F.col("id") % 8 + 1).cast("int")
    )
    corpus = (
        mem.drop("content")
        .join(phrases, "id")
        .withColumn("content", F.concat(F.col("pcontent"), trigger))
        .drop("pcontent")
    )
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < ENRICH_SLICE)
    out = enrich_pipeline(corpus, emb, temporal_partition="source")
    return out.select(
        "id",
        "mem_type",
        F.round("cls_confidence", 6).alias("cls_confidence"),
        "summary",
        F.array_join("entity_tags", "|").alias("entity_tags"),
        F.array_join("tags_enriched", "|").alias("tags_enriched"),
        F.array_join(F.array_sort("tag_prefixes"), "|").alias("tag_prefixes"),
        "n_temporal",
        "n_neighbors",
        F.coalesce("pattern_term", F.lit("")).alias("pattern_term"),
    )


def q_forget_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 forgetting with protection (consolidation.py:619-818, X6/X7)."""
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    rel_counts = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("rel_count")
    )
    return forget_classify(
        mem, rel_counts, now=NOW, delete_threshold=0.25, archive_threshold=0.35
    )


def q_creative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/J15 creative-association heuristics (consolidation.py:414-453)."""
    mem = memories_view(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    edges = edges_view(spark, sf_dir)
    return creative_pairs(mem, emb, edges, max_id=100)


def q_cluster_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 cluster summaries: CC -> dominant type + span (consolidation.py:457-617)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    mem = memories_view(spark, sf_dir)
    pairs = cosine_threshold_self_join(emb, 0.25, item_id="vec_id")
    return cluster_summaries(
        pairs, emb.select(F.col("vec_id").alias("id")), mem, min_members=3
    )


def _scored_keyword_channel(spark: SparkSession, sf_dir: str, limit: int) -> DataFrame:
    """keyword channel + hybrid score, shared by the rerank/floor queries."""
    mem = memories_view(spark, sf_dir)
    pool = base_filter(mem, RecallRequest())
    chan = keyword_channel(pool, RECALL_QUERY, limit)
    tokens = token_array_sql(extract_keywords(RECALL_QUERY))
    return chan.withColumn("final_score", F.expr(hybrid_score_sql_spark(tokens, NOW)))


def q_adaptive_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 adaptive score floor (recall.py:2355-2375)."""
    scored = _scored_keyword_channel(spark, sf_dir, 50)
    out = adaptive_score_floor(scored)
    return out.select("id", F.round("final_score", 6).alias("final_score"))


def q_recency_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 relative-recency re-rank (recall.py:2315-2349)."""
    scored = _scored_keyword_channel(spark, sf_dir, 20)
    out = recency_rerank(scored)
    return out.select("id", F.round("final_score", 6).alias("final_score"))


def q_score_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid score distribution health (benchmarks/baselines/
    health_baseline.json: mean/stddev/spread over scores)."""
    scored = _scored_keyword_channel(spark, sf_dir, 50)
    return scored.agg(
        F.count("*").alias("n"),
        _us_mean(F.col("final_score"), 6).alias("mean_score"),
        F.round(F.stddev_samp("final_score"), 6).alias("stddev_score"),
        F.round(F.max("final_score") - F.min("final_score"), 6).alias("spread"),
    )


def q_paginated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 pagination: SKIP/LIMIT scan (automem/api/memory.py:296-316)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
        .orderBy(F.desc("total"), F.asc("o_orderkey"))
        .offset(100)
        .limit(50)
    )


def q_startup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 startup recall: fixed tag-membership scans + has_critical flag
    (recall.py:2683-2740)."""
    mem = memories_view(spark, sf_dir)
    pool = base_filter(mem, RecallRequest())

    def scan(label: str, tag: str) -> DataFrame:
        return (
            pool.filter(F.array_contains(F.transform("tags", F.lower), tag))
            .agg(
                F.lit(label).alias("scan"),
                F.count("*").alias("n"),
                F.round(F.max("importance"), 6).alias("top_importance"),
                F.max(F.col("importance") >= 0.9).alias("has_critical"),
            )
        )

    return scan("lang_en", "lang:en").unionByName(scan("src1", "source:src1"))


from automem_spark.operators.metadata_search import (
    metadata_channel,
    metadata_score_sql,
    query_value_tokens as _meta_qvt,
)

META_QUERY_SCOPED = "find memories from project alpha with duckdb"
META_QUERY_UNSCOPED = "duckdb memories"
_META_FIELDS = ["source", "repo", "project", "tool", "model"]


def _metadata_search(spark: SparkSession, sf_dir: str, query_text: str) -> DataFrame:
    mem = memories_view(spark, sf_dir)
    pool = base_filter(mem, RecallRequest())
    out = metadata_channel(pool, query_text, 10, _META_FIELDS)
    return out.select("id", F.round("match_score", 6).alias("match_score"), "project", "tool")


def q_metadata_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 metadata sidecar, field-scoped query
    (runtime_recall_helpers.py:727-868, scorer :270-340)."""
    return _metadata_search(spark, sf_dir, META_QUERY_SCOPED)


def q_metadata_search_unscoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 without field-request phrases (exact-hit evidence path)."""
    return _metadata_search(spark, sf_dir, META_QUERY_UNSCOPED)


def _metadata_oracle(query_text: str) -> str:
    score = metadata_score_sql({f: f for f in _META_FIELDS}, query_text)
    terms = _meta_qvt(query_text)[:12]
    prefilter = " OR ".join(
        f"contains(lower(coalesce(metadata, '')), '{assert_sql_literal_safe(t)}')"
        for t in terms
    )
    return (
        "WITH "
        + MEMORIES_ORACLE_CTE
        + f"""
        SELECT id, round(match_score, 6) AS match_score, project, tool FROM (
            SELECT id, importance, timestamp, project, tool,
                   {score} AS match_score
            FROM ({_POOL}) WHERE {prefilter}
        )
        WHERE match_score > 0
        ORDER BY match_score DESC, importance DESC, timestamp DESC, id ASC
        LIMIT 10
    """
    )


def q_hybrid_recall_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full recall over a metadata-targeted query: the metadata channel
    feeds the hybrid blend (X1: 0.35*metadata component) since keyword
    CONTAINS finds nothing for this query."""
    mem = memories_view(spark, sf_dir)
    out = recall(mem, RecallRequest(query=META_QUERY_SCOPED, limit=10), now=NOW)
    return out.select(
        "id", "match_type",
        F.round("match_score", 6).alias("match_score"),
        F.round("final_score", 6).alias("final_score"),
    )


def _hybrid_metadata_oracle() -> str:
    tokens = extract_keywords(META_QUERY_SCOPED.strip().lower())
    score = metadata_score_sql({f: f for f in _META_FIELDS}, META_QUERY_SCOPED)
    terms = _meta_qvt(META_QUERY_SCOPED)[:12]
    prefilter = " OR ".join(
        f"contains(lower(coalesce(metadata, '')), '{assert_sql_literal_safe(t)}')"
        for t in terms
    )
    kw_fallback = (
        "("
        + " + ".join(
            f"(CASE WHEN list_contains(regexp_extract_all(lower(content), '\\b[a-z0-9]+\\b'),"
            f" '{assert_sql_literal_safe(t)}') THEN 1 ELSE 0 END)"
            for t in tokens
        )
        + f") * 1.0 / {float(len(tokens))}"
    )
    final = (
        f"0.35 * {kw_fallback} + 0.35 * match_score "
        f"+ 0.2 * least(1.0, ({_tag_hits_sql(tokens)}) / {float(len(tokens))}) "
        f"+ {_W_IMP} * importance + {_W_CONF} * confidence + {_W_REC} * {_RECENCY}"
    )
    return (
        "WITH "
        + MEMORIES_ORACLE_CTE
        + f"""
        SELECT id, 'metadata' AS match_type, round(match_score, 6) AS match_score,
               round({final}, 6) AS final_score
        FROM (
            SELECT *, {score} AS match_score
            FROM ({_POOL}) WHERE {prefilter}
        )
        WHERE match_score > 0
        QUALIFY row_number() OVER (
            ORDER BY match_score DESC, importance DESC, timestamp DESC, id ASC
        ) <= 10
        ORDER BY round({final}, 6) DESC, match_score DESC, importance DESC, timestamp DESC, id ASC
        LIMIT 10
    """
    )


SCOPE_START, SCOPE_END = "2026-01-01 00:00:00", "2026-01-15 00:00:00"


def q_scope_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO4 scope fallback (recall.py:772-914, :2399-2432): scoped block
    first, unscoped fills appended, in-scope rows refused from fallback."""
    mem = memories_view(spark, sf_dir)
    req = RecallRequest(
        query=RECALL_QUERY, limit=15, tags=["source:src7"], tag_match="prefix",
        start=SCOPE_START, end=SCOPE_END,
    )
    out = recall_with_scope_fallback(mem, req, now=NOW)
    return out.select(
        "id", "in_scope",
        F.col("position").cast("bigint").alias("position"),
        F.round("final_score", 6).alias("final_score"),
    )


def q_priority_injection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 priority-id injection + first-position guarantee
    (recall.py:1094-1312)."""
    mem = memories_view(spark, sf_dir)
    results = recall(mem, RecallRequest(query=RECALL_QUERY, limit=10), now=NOW)
    out = inject_priority_ids(results, mem, [7, 13], limit=10, now=NOW)
    return out.select(
        "id", "match_type",
        F.col("position").cast("bigint").alias("position"),
        F.round("final_score", 6).alias("final_score"),
    )


def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 upsert as latest-per-id MERGE semantics (memory.py:789-940)."""
    mem = memories_view(spark, sf_dir).withColumn(
        "updated_at_epoch", F.col("timestamp").cast("long")
    )
    incoming = (
        mem.filter(F.col("id") % 10 == 0)
        .withColumn("content", F.concat(F.col("content"), F.lit(" v2")))
        .withColumn("updated_at_epoch", F.col("updated_at_epoch") + 86400)
    )
    merged = upsert_memories(mem, incoming, version_col="updated_at_epoch")
    return merged.select(
        "id",
        F.col("content").endswith(" v2").alias("is_v2"),
        "updated_at_epoch",
    )


def q_delete_by_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 bulk delete-by-tag as one anti-filter (memory.py:976-1008)."""
    mem = memories_view(spark, sf_dir)
    remaining = delete_by_tag(mem, ["lang:fr"], match="exact")
    return remaining.select("id", "lang")


def q_single_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 single-memory store (memory.py:475-754): the batch ingest
    normalization applied to a degenerate one-row batch — whitespace/empty
    tag cleanup, tag-prefix materialization (X12), tier-1 classification for
    the missing type (U3), importance clamp (X19), extractive summary (X18).
    Single-store IS a batch of one by design (SURVEY §7)."""
    doc = _t(spark, sf_dir, "documents").filter(F.col("doc_id") == 42)
    req = doc.select(
        F.col("doc_id").alias("id"),
        F.col("text").alias("content"),
        F.array(
            F.concat(F.lit("Lang:"), F.col("lang")),
            F.lit("  Manual/Entry  "),
            F.lit(""),
        ).alias("tags"),
        F.lit(1.7).alias("importance"),  # out of range -> clamped to 1.0
    )
    out = normalize_memories(req)
    return out.select(
        "id",
        "norm_type",
        F.round("cls_confidence", 6).alias("cls_confidence"),
        "summary",
        F.array_join(F.array_sort("tag_prefixes"), "|").alias("tag_prefixes"),
        F.round("importance", 6).alias("importance"),
    )


def q_delete_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 DETACH DELETE by id (memory.py:942-962): drop the rows AND every
    edge touching them; output is the post-delete census (memory total +
    per-rel_type edge counts) so both cleanups are value-checked."""
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    ids = mem.filter(F.col("id") % 21 == 0).select("id")
    remaining, new_edges = delete_by_ids(mem, ids, edges)
    mrow = remaining.agg(F.count("*").alias("n")).select(
        F.lit("memories").alias("kind"), F.lit("").alias("rel_type"), "n"
    )
    erows = new_edges.groupBy("rel_type").agg(F.count("*").alias("n")).select(
        F.lit("edges").alias("kind"), "rel_type", "n"
    )
    return mrow.unionByName(erows)


def q_backup_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 backup export (automem/api/backup.py:39-65): each logical table
    lands as parquet, and the returned manifest (verified against the
    written footers) is the oracle-checked surface."""
    import tempfile

    base = tempfile.mkdtemp(prefix="automem_backup_")
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    manifest = backup_export(
        {
            "memories_active": mem.filter(
                F.coalesce(F.col("archived"), F.lit(False)) == False  # noqa: E712
            ),
            "edges": edges,
        },
        base,
        spark,
    )
    return manifest


def q_exclude_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 exclude_tags (runtime_recall_helpers.py:472-487): drop rows whose
    tags hit the excluded list exactly OR by canonical prefix; the '/'->':'
    canonicalization is exercised by excluding 'Lang/Fr'."""
    mem = memories_view(spark, sf_dir)
    survivors = mem.filter(
        exclude_tags_expr(F.col("tags"), ["Lang/Fr", "source:src2"])
    )
    return survivors.select("id", "lang", "source")


def q_uuid_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 UUID validation (memory.py:532): canonical-form check over a
    deterministic candidate spread (valid lower/upper, dash-stripped, and
    bad-hex variants derived from md5)."""
    doc = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    canonical = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    candidate = (
        F.when(F.col("doc_id") % 4 == 0, canonical)
        .when(F.col("doc_id") % 4 == 1, F.substring(h, 1, 32))  # no dashes
        .when(F.col("doc_id") % 4 == 2, F.upper(canonical))
        .otherwise(F.concat(F.lit("z"), F.substring(canonical, 2, 35)))  # bad hex
    )
    return doc.select(
        "doc_id",
        candidate.alias("candidate"),
        valid_uuid_expr(candidate).alias("is_valid"),
    )


def q_identity_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 composed identity pass (run_identity_consolidation:313-418): step 1
    auto-merges duplicate entities (J16 candidates, bucket='auto') and moves
    their references to the canonical id (J17); step 2 synthesizes
    identities over the POST-merge entity set — merged-away aliases drop
    out, canonicals absorb the alias refs so their source counts (and thus
    eligibility and prompt blocks) differ from the standalone U5 row."""
    from automem_spark.operators.identity import identity_synthesis_plan

    entities = entities_view(spark)
    refs = entity_refs_view(spark)
    merges = (
        entity_merge_candidates(entities, refs)
        .filter(F.col("bucket") == "auto")
        .select(
            "canonical_id",
            F.when(F.col("canonical_id") == F.col("entity_a"), F.col("entity_b"))
            .otherwise(F.col("entity_a"))
            .alias("alias_id"),
        )
    )
    merged_entities = (
        entities.alias("e")
        .join(merges.alias("m"), F.col("e.id") == F.col("m.alias_id"), "left")
        .select(
            F.col("e.id").alias("id"),
            F.col("e.slug").alias("slug"),
            F.col("e.category").alias("category"),
            F.coalesce(F.col("e.merged_into"), F.col("m.canonical_id")).alias("merged_into"),
        )
    )
    rewritten = apply_entity_merges(refs, merges)
    st = spark.createDataFrame(
        IDENTITY_STATE,
        "entity_id bigint, identity string, identity_version bigint,"
        " identity_source_count bigint",
    )
    out = identity_synthesis_plan(
        merged_entities,
        rewritten,
        memories_view(spark, sf_dir),
        edges_view(spark, sf_dir),
        now=NOW,
        memory_limit=3,
        min_references=1,
        identity_state=st,
    )
    return out.select(
        "entity_id",
        "slug",
        "synthesis_mode",
        "identity",
        "identity_version",
        "identity_source_count",
        "n_prompt_memories",
        "prompt_chars",
    )


def q_event_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST8/S11 batch analog (automem/api/stream.py:22-105): operations
    append typed events to a log; the observability surface is the
    per-(day, type) rollup. Event sources mirror the reference's emit_event
    call sites — store events for an ingest batch, recall events for the
    query-matched set, enrichment complete/failed for the enrichment pass,
    one consolidation.run tick."""
    from automem_spark.streaming.events import emit_events, event_rollup

    mem = memories_view(spark, sf_dir)
    one_hour = F.expr("INTERVAL 1 HOUR")
    two_hours = F.expr("INTERVAL 2 HOUR")
    store = emit_events(
        mem.filter(F.col("id") % 10 == 0), "memory.store",
        ts=F.col("timestamp"), key=F.col("id"),
    )
    recall = emit_events(
        mem.filter(F.lower(F.col("content")).contains("spark")), "memory.recall",
        ts=F.col("timestamp") + two_hours, key=F.col("id"),
    )
    enriched = emit_events(
        mem.filter((F.col("id") % 3 == 0) & (F.col("id") % 57 != 0)),
        "enrichment.complete",
        ts=F.col("timestamp") + one_hour, key=F.col("id"),
    )
    failed = emit_events(
        mem.filter(F.col("id") % 57 == 0), "enrichment.failed",
        ts=F.col("timestamp") + one_hour, key=F.col("id"),
    )
    tick = emit_events(
        spark.range(1), "consolidation.run",
        ts=F.lit(NOW).cast("timestamp"), key=F.lit("decay"),
    )
    log = store.unionByName(recall).unionByName(enriched).unionByName(failed).unionByName(tick)
    out = event_rollup(log, window="1 day")
    return out.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        "n_keys",
    )


def q_entity_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J16 entity dedup candidates (entity_dedup.py:94-216)."""
    return entity_merge_candidates(entities_view(spark), entity_refs_view(spark))


def q_entity_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J17 merge application: refs rewritten to canonical ids, then counted."""
    entities = entities_view(spark)
    refs = entity_refs_view(spark)
    merges = (
        entity_merge_candidates(entities, refs)
        .filter(F.col("bucket") == "auto")
        .select(
            "canonical_id",
            F.when(F.col("canonical_id") == F.col("entity_a"), F.col("entity_b"))
            .otherwise(F.col("entity_a"))
            .alias("alias_id"),
        )
    )
    rewritten = apply_entity_merges(refs, merges)
    return rewritten.groupBy("entity_id").agg(F.count("*").alias("n_refs"))


def q_entity_identity_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 identity injection: slug OR alias match (recall.py:2454-2491)."""
    return entity_identity_lookup(
        entities_view(spark), ["alice", "apache-kafka", "flink", "nonexistent"]
    )


def q_entity_ref_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 entity list with reference counts (api/entity.py:196-247)."""
    return entity_ref_counts(entities_view(spark), entity_refs_view(spark))


# U5 stored synthesis bookkeeping: one entity per mode branch —
# v5 triggers full re-synthesis (checked BEFORE increment), a matching
# identity_source_count is skipped entirely (change detection,
# identity_synthesis.py:395-399), a stale count refines, absent rows are
# first-time syntheses.
IDENTITY_STATE = [
    (1, "Alice Smith is a close collaborator.", 5, 2),  # v5 -> full re-synthesis
    (2, "Postgres is the primary database.", 3, 3),     # count matches -> skipped
    (3, "PostgreSQL, a relational database.", 2, 1),    # stale count -> refine
]


def q_identity_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 identity synthesis scaffolding (identity_synthesis.py:18-313):
    per-entity current-memory gather (state-filtered, one-hop suppression),
    change-detection eligibility, prompt-block build, version bookkeeping
    with every-5th-version full re-synthesis, template synthesizer seam.
    memory_limit=3 exercises the prompt slice (several fixture entities
    have more current references than the limit)."""
    from automem_spark.operators.identity import identity_synthesis_plan

    st = spark.createDataFrame(
        IDENTITY_STATE,
        "entity_id bigint, identity string, identity_version bigint,"
        " identity_source_count bigint",
    )
    out = identity_synthesis_plan(
        entities_view(spark),
        entity_refs_view(spark),
        memories_view(spark, sf_dir),
        edges_view(spark, sf_dir),
        now=NOW,
        memory_limit=3,
        min_references=1,
        identity_state=st,
    )
    return out.select(
        "entity_id",
        "slug",
        "synthesis_mode",
        "identity",
        "identity_version",
        "identity_source_count",
        "n_prompt_memories",
        "prompt_chars",
    )


MULTI_QUERIES = [
    ("q_spark", "spark window merge fast"),
    ("q_join", "join customer order"),
    ("q_scan", "scan filter value table"),
    ("q_stream", "stream batch data"),
]


def q_multi_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10/R11 multi-query fan-out: N recalls in one job (recall.py:2151-2223)."""
    mem = memories_view(spark, sf_dir)
    out = recall_many_hybrid(mem, MULTI_QUERIES, 5, now=NOW)
    return out.select(
        "query_id", "id",
        F.round("match_score", 6).alias("match_score"),
        F.round("final_score", 6).alias("final_score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


VECTOR_QUERY_VEC_ID = 7


def _query_embedding(
    spark: SparkSession, sf_dir: str, vec_id: int = VECTOR_QUERY_VEC_ID
) -> list[float]:
    row = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row.embedding]


MULTI_HYBRID_QUERIES = MULTI_QUERIES + [("q_meta", META_QUERY_SCOPED)]
MULTI_HYBRID_VECTOR_IDS = {"q_spark": 7, "q_stream": 23}
MULTI_HYBRID_LIMIT = 5


def q_multi_recall_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10/R11 multi-query recall with ALL channels in ONE corpus pass:
    per-query vector top-k' (overfetch ×4), remaining-slot-gated keyword,
    metadata sidecar (≤ min(limit,10)), channel-precedence dedup, X1/X2
    hybrid blend — multi-query ≡ N× single-query recall
    (recall.py:1939-2149 per sub-query, :2151-2223 for the fan-out)."""
    mem = memories_view(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    # corpus ⋈ corpus: merge hint — broadcasting either side is the
    # broadcast-limit wall at scale (store bucketed by id to elide the sort)
    corpus = mem.join(emb.hint("merge"), "id")
    vecs = {
        qid: _query_embedding(spark, sf_dir, vid)
        for qid, vid in MULTI_HYBRID_VECTOR_IDS.items()
    }
    out = recall_many_hybrid(
        corpus,
        MULTI_HYBRID_QUERIES,
        MULTI_HYBRID_LIMIT,
        query_vectors=vecs,
        meta_fields=_META_FIELDS,
        now=NOW,
    )
    return out.select(
        "query_id", "id", "match_type",
        F.round("match_score", 5).alias("match_score"),
        F.round("final_score", 5).alias("final_score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_hybrid_recall_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1 channel union (recall.py:1956-2062): vector top-K' (R1, overfetch
    x4) ∪ keyword channel, seen-id dedup with vector-wins precedence (R7),
    hybrid blend with the X2 gating rules (vector component only for vector
    matches; keyword falls back to content-token overlap), W1 sort."""
    mem = memories_view(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    corpus = mem.join(emb, "id")
    qv = _query_embedding(spark, sf_dir)
    out = recall(
        corpus, RecallRequest(query=RECALL_QUERY, limit=10), query_vector=qv, now=NOW
    )
    return out.select(
        "id", "match_type",
        F.round("match_score", 5).alias("match_score"),
        F.round("final_score", 5).alias("final_score"),
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path (R1 at 100 TB): coarse quantization into centroid
    cells, nprobe=2 probe pruning, exact cosine in-cell. The driver row uses
    the deterministic first-N quantizer so DuckDB can mirror cell assignment;
    the production KMeans quantizer is pinned by the recall@10 test in
    tests/test_vector_recall.py."""
    from automem_spark.operators.similarity import first_n_centroids

    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_embedding(spark, sf_dir)
    cents = first_n_centroids(emb, 8)
    out = ivf_topk(emb, qv, 10, n_centroids=8, nprobe=2, centroids=cents)
    return out.select(
        "id", F.col("cell").cast("bigint").alias("cell"),
        F.round("sim", 5).alias("sim"),
    )


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index variant of the IVF path: the corpus is written
    partitioned by cell (assignment via the vectorized argmax — the
    realistic-centroid-count shape), read back, and probed through
    partition pruning, so a query's scan touches nprobe/n_centroids of the
    files. Same quantizer and semantics as ann_ivf, hence the same oracle;
    the pruning plan shape is pinned in tests/test_vector_recall.py."""
    import tempfile

    from automem_spark.operators.similarity import (
        first_n_centroids,
        ivf_topk_indexed,
        write_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_embedding(spark, sf_dir)
    cents = first_n_centroids(emb, 8)
    base = tempfile.mkdtemp(prefix="automem_ivf_")
    write_ivf_index(emb.select("vec_id", "embedding"), cents, base)
    index = spark.read.parquet(base)
    out = ivf_topk_indexed(index, qv, 10, cents, nprobe=2)
    return out.select(
        "id", F.col("cell").cast("bigint").alias("cell"),
        F.round("sim", 5).alias("sim"),
    )


def q_doc_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18 extractive first-sentence summary (entity_extraction.py:127-148)
    + X11 slugify (entity_extraction.py:63-65)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        first_sentence_summary_expr(F.col("text")).alias("summary"),
        slugify_expr(F.substring(F.col("text"), 1, 40)).alias("slug"),
    )


def _entity_tagged_memories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """memories with deterministic entity:people:* tags appended (ids with
    id%7 in 0..2 get person-<id%7>), so J3 has slugs to expand.

    r15 NEGATIVE RESULT (measured, recorded): parallelizing this pool
    (ensure_parallelism) was a WASH on recall_full at .sf1 (6.87 -> 6.81 s
    noop) — the row is build-dominated (5.9 s of 7.5 s is driver-side plan
    construction + the recall machinery's eager checkpoint jobs over tiny
    frames), not executor-bound, so the extra exchange buys nothing. Same
    adjudication class as the r14 hybrid_recall build-tax finding."""
    mem = memories_view(spark, sf_dir)
    return mem.withColumn(
        "tags",
        F.when(
            F.col("id") % 7 < 3,
            F.concat(
                F.col("tags"),
                F.array(
                    F.concat(
                        F.lit("entity:people:person-"),
                        (F.col("id") % 7).cast("string"),
                    )
                ),
            ),
        ).otherwise(F.col("tags")),
    )


def q_entity_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 entity expansion (recall.py:1337-1495): extract entity:people:*
    slugs from seed results, per-entity tag-prefix scroll (importance DESC
    top-5), hybrid-score as match_type='entity_expansion' with the +0.15
    entity boost, global top-25."""
    tagged = _entity_tagged_memories(spark, sf_dir)
    seeds = tagged.filter(F.col("id") < 30)
    out = entity_expand(seeds, tagged, query_tokens=_KEYWORDS, now=NOW)
    return out.select(
        "id", "entity",
        F.round("final_score", 6).alias("final_score"),
        F.round("importance", 6).alias("importance"),
    )


def q_recall_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE §3.1 recall composition in one oracle-checked query
    (recall.py:1703-2611): keyword channel → hybrid score + X5 context bonus
    (priority tag 'lang:en' +0.45, priority type 'decision' +0.25, anchor
    ids {7,13} +0.9) → R7 dedup → J2 relation expansion → J3 entity
    expansion → J5 state filter + supersession injection → W5 recency →
    F10 adaptive floor → J11 priority injection + first-position guarantee."""
    from automem_spark.operators.recall import recall_full

    tagged = _entity_tagged_memories(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    out = recall_full(
        tagged,
        edges,
        RecallRequest(query=RECALL_QUERY, limit=20),
        priority_tags=["lang:en"],
        priority_types=["decision"],
        priority_ids=[7, 13],
        now=NOW,
    )
    return out.select(
        "id", "match_type",
        F.col("position").cast("bigint").alias("position"),
        F.round("final_score", 6).alias("final_score"),
    )


def q_extract_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 entity extraction + full quality-gate chain
    (entity_extraction.py:151-245, entity_quality.py:542-656) over the
    entity-phrase fixture corpus. Regex tier only — the reference's spaCy
    tier is an optional dependency absent in both environments."""
    from automem_spark.sources.tables import entity_fixture_view

    mem = entity_fixture_view(spark, sf_dir)
    return extract_entities(mem).select(
        "id", "category", "name", "canonical_slug", "canonical_tag",
        F.round("confidence", 6).alias("confidence"),
    )


def q_entity_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 entity frequency (recall.py:2837-2865): Counter over metadata
    entity fields, top-50."""
    mem = memories_view(spark, sf_dir)
    pool = base_filter(mem, RecallRequest())
    return (
        pool.select(F.explode(F.array("project", "tool", "model", "repo")).alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("entity"))
        .limit(50)
    )


AUDIT_CATEGORIES = ("tools", "projects", "people", "concepts", "organizations")


def q_entity_tag_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 entity tag audit (api/entity.py:60-178): validate entity:* tags
    (category whitelist, slug shape), counts per tag/status. The audit input
    mixes valid tags with synthetic invalid-category and empty-slug rows."""
    mem = memories_view(spark, sf_dir)
    cand = F.array(
        F.concat(F.lit("entity:projects:"), F.col("project")),
        F.concat(F.lit("entity:tools:"), F.col("tool")),
        F.when(F.col("id") % 11 == 0, F.concat(F.lit("entity:category-x:"), F.col("model"))),
        F.when(F.col("id") % 13 == 0, F.lit("entity:people:")),
    )
    exploded = (
        mem.select(F.col("id").alias("memory_id"), F.explode(cand).alias("tag"))
        .filter(F.col("tag").isNotNull())
    )
    parts = F.split(F.col("tag"), ":")
    parsed = exploded.select(
        "memory_id", "tag",
        F.element_at(parts, 2).alias("category"),
        F.element_at(parts, 3).alias("slug"),
    )
    status = (
        F.when(~F.col("category").isin(*AUDIT_CATEGORIES), F.lit("invalid_category"))
        .when(F.col("slug") == "", F.lit("empty_slug"))
        .when(~F.col("slug").rlike("^[a-z0-9][a-z0-9-]*$"), F.lit("invalid_slug"))
        .otherwise(F.lit("accepted"))
    )
    return (
        parsed.withColumn("status", status)
        .groupBy("tag", "category", "status")
        .agg(F.count("*").alias("n_refs"))
    )


def q_sync_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 sync repair (automem/sync/runtime_worker.py:54-104): active
    memories missing from the vector store -> re-embed queue. Drift is
    simulated by dropping every 5th vector id from the vector side."""
    from automem_spark.operators.ingest import sync_repair_plan

    mem = memories_view(spark, sf_dir)
    vec = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 != 0)
    out = sync_repair_plan(mem, vec)
    return out.select("id", "action", F.substring("content", 1, 30).alias("head"))


def q_recall_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 last_accessed write-back (automem/api/recall.py:2601-2609): the
    flagship recall's direct results get last_accessed stamped; output is
    the touched slice of the corpus."""
    from automem_spark.operators.ingest import touch_last_accessed

    mem = memories_view(spark, sf_dir)
    req = RecallRequest(query=RECALL_QUERY, limit=10)
    hits = recall(mem, req, now=NOW)
    touched = touch_last_accessed(mem, hits.select("id"), NOW)
    return (
        touched.filter(F.col("last_accessed").isNotNull())
        .select("id", F.date_format("last_accessed", "yyyy-MM-dd").alias("accessed_day"))
    )


def q_gated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 relevance gate ON (within-pool gate, reference scoring.py:229-236):
    the flagship keyword page re-scored with gate=0.5 — rows whose topical
    evidence (keyword component) falls below the gate have their
    query-independent components (tag/importance/confidence/recency)
    linearly ramped down, re-ranking the page. Value-checks the ramp
    end-to-end (the default-off path stays bit-identical and is pinned by
    unit tests)."""
    from dataclasses import replace as dc_replace

    from automem_spark.functions.scoring import DEFAULT_WEIGHTS
    from automem_spark.operators.recall import base_filter, keyword_channel

    mem = memories_view(spark, sf_dir)
    pool = base_filter(mem, RecallRequest())
    kw = keyword_channel(pool, RECALL_QUERY, 10)
    w = dc_replace(DEFAULT_WEIGHTS, relevance_gate=0.5)
    tokens = token_array_sql(extract_keywords(RECALL_QUERY))
    scored = kw.withColumn("final_score", F.expr(hybrid_score_sql_spark(tokens, NOW, w)))
    return scored.select(
        "id",
        F.round("match_score", 6).alias("match_score"),
        F.round("final_score", 6).alias("final_score"),
    )


def q_result_hydration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/J9 post-trim hydration (recall.py summary hydration + relations
    hydration after the response cut): the flagship recall's final page
    gets summaries (X18) and its top-3 relations (J1 ordering) fetched for
    exactly the trimmed ids — every corpus join keys off the bounded hit
    set (broadcast semi-join), never the reverse. Hits without outgoing
    relations keep sentinel columns so the cross-engine hash stays
    well-defined."""
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    hits = recall(mem, RecallRequest(query=RECALL_QUERY, limit=10), now=NOW).select(
        "id", F.round("final_score", 6).alias("final_score")
    )
    summaries = mem.join(F.broadcast(hits.select("id")), "id", "left_semi").select(
        "id", first_sentence_summary_expr(F.col("content")).alias("summary")
    )
    bounded_edges = edges.join(
        F.broadcast(hits.select(F.col("id").alias("src"))), "src", "left_semi"
    )
    rel = relations_fetch(bounded_edges, mem, 3).withColumnRenamed("src", "id")
    out = hits.join(summaries, "id").join(rel, "id", "left")
    return out.select(
        "id",
        "final_score",
        "summary",
        F.coalesce(F.col("rank"), F.lit(-1)).cast("bigint").alias("rel_rank"),
        F.coalesce(F.col("dst"), F.lit(-1)).cast("bigint").alias("rel_dst"),
        F.coalesce(F.col("rel_type"), F.lit("")).alias("rel_type"),
        F.round(F.coalesce(F.col("strength"), F.lit(-1.0)), 6).alias("rel_strength"),
    )


def q_tag_scroll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 tag-only scroll (runtime_recall_helpers.py tag-scroll path): a
    prefix tag filter with id-ordered pagination — page 2 (rows 51-100),
    no ranking involved."""
    from automem_spark.operators.topk import partial_top_k_per_group

    mem = memories_view(spark, sf_dir)
    filtered = mem.filter(
        tag_filter_expr(F.col("tags"), ["source:src1"], mode="any", match="prefix")
    )
    # two-stage top-(page_end) rank: a bare Window.orderBy would funnel the
    # whole tag-filtered corpus through one reducer; the partial form keeps
    # per-reducer work at one input partition and the global stage at
    # parts × 100 rows. (Deep pagination at scale uses keyset continuation
    # instead — this models the reference's early-page scroll.)
    ranked = partial_top_k_per_group(
        filtered.withColumn("_g", F.lit(1)),
        ["_g"],
        [F.asc("id")],
        100,
        rank_col="rank",
        keep_rank=True,
    )
    return (
        ranked.filter((F.col("rank") > 50) & (F.col("rank") <= 100))
        .select("id", F.col("rank").cast("bigint").alias("rank"), "type")
    )


ASSOC_REL_CYCLE = [
    "RELATES_TO", "PREFERS_OVER", "EXEMPLIFIES", "SIMILAR_TO", "CONTRADICTS",
    "REINFORCES", "INVALIDATED_BY", "bogus", "", "PART_OF", "prefers_over",
]


def q_associations_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 association create with per-type property whitelists
    (automem/api/memory.py:1042-1122, :62-75; automem/config.py:273-397):
    the request fixture cycles valid/system/unknown/empty/lowercase types,
    self-loops, blank ids, dangling endpoints, and out-of-range strengths."""
    from automem_spark.operators.ingest import create_associations

    docs = _t(spark, sf_dir, "documents")
    id1 = F.when(F.col("doc_id") % 17 == 3, F.lit("")).otherwise(
        (F.col("doc_id") % 400).cast("string")
    )
    id2 = F.when(F.col("doc_id") % 10 == 0, (F.col("doc_id") % 400).cast("string")).otherwise(
        ((F.col("doc_id") * 7 + 13) % 600).cast("string")
    )
    reqs = docs.select(
        F.col("doc_id").alias("idx"),
        id1.alias("memory1_id"),
        id2.alias("memory2_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ASSOC_REL_CYCLE]),
            (F.col("doc_id") % len(ASSOC_REL_CYCLE) + 1).cast("int"),
        ).alias("rel_type"),
        ((F.col("doc_id") % 15) / 10.0 - 0.2).alias("strength"),
        F.create_map(
            F.lit("context"), F.lit("x"),
            F.lit("reason"), F.lit("y"),
            F.lit("bogus_key"), F.lit("z"),
            F.lit("pattern_type"), F.lit("p"),
        ).alias("props"),
    )
    mem = memories_view(spark, sf_dir)
    return create_associations(reqs, mem, now=NOW)


def q_reembed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13/ST4 admin re-embed: the sync-repair queue flows through the
    Arrow-batched placeholder-embedding UDF (automem/api/admin re-embed +
    embedding/runtime_pipeline.py micro-batcher). Embedding VALUES are
    SHA-256+MT, pinned bit-exact by tests/test_functions.py against the
    reference provider; the oracle verifies the queue membership and the
    vector shape."""
    from automem_spark.functions.vector import norm_expr, placeholder_embedding_udf
    from automem_spark.operators.ingest import sync_repair_plan

    mem = memories_view(spark, sf_dir)
    vec = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 != 0)
    missing = sync_repair_plan(mem, vec)
    embedded = missing.withColumn(
        "embedding", placeholder_embedding_udf(64)(F.col("content"))
    )
    return embedded.select(
        "id",
        F.size("embedding").cast("bigint").alias("dim"),
        (norm_expr(F.col("embedding")) > 0).cast("int").alias("has_norm"),
    )


# X17 fixture: nested metadata JSON exercising every walk rule — entities
# subtrees (skipped at two depths), depth-3 nesting, arrays, numeric and
# boolean scalars (dropped), a > 256-char string (dropped). The oracle
# constructs the expected term set directly from the generating columns, so
# the Spark side must recover exactly the planted terms via the generic walk.
META_WALK_QUERY = "spark"
META_WALK_TOKENS = ["alpha", "spark", "beta", "zzz-missing"]


def q_metadata_terms_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17 recursive metadata term collection + token-hit scorer core
    (automem/utils/scoring.py:40-63, :148-157) over a nested-JSON fixture."""
    from automem_spark.operators.metadata_search import (
        metadata_terms,
        metadata_token_hits_expr,
    )

    mem = memories_view(spark, sf_dir)
    nested = F.concat(
        F.lit('{"project": "'), F.col("project"),
        F.lit('", "entities": {"people": ["hidden-name"]}, "nested": {"repo": "'),
        F.col("repo"),
        F.lit('", "deeper": {"tool": "'), F.col("tool"),
        F.lit('", "entities": ["skipme"]}}, "labels": ["'),
        F.col("model"),
        F.lit('", "v'), (F.col("id") % 3).cast("string"),
        F.lit('.2 beta"], "count": '), (F.col("id") % 100).cast("string"),
        F.lit(', "flag": true, "longval": "'), F.lit("x" * 280), F.lit('"}'),
    )
    mem2 = mem.withColumn("metadata_nested", nested)
    terms = metadata_terms(mem2, json_col="metadata_nested")
    joined = mem2.select("id", "tags").join(terms, "id")
    hits = metadata_token_hits_expr(
        F.col("metadata_terms"), F.col("tags"), META_WALK_TOKENS, META_WALK_QUERY
    )
    return joined.select(
        "id",
        F.array_join("metadata_terms", "|").alias("terms"),
        F.size("metadata_terms").cast("bigint").alias("n_terms"),
        hits["token_hits"].alias("token_hits"),
        hits["exact_match"].alias("exact_match"),
    )


DECOMPOSE_QUESTION = "What did Alice decide about the spark window merge strategy?"
# driver-side R8/R9/R10 parse (deterministic) -> sub-queries for the fan-out
DECOMPOSED_QUERIES = [
    (f"q{i}", text) for i, text in enumerate(decompose_query(DECOMPOSE_QUESTION))
]


def q_auto_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8/R9/R10 auto-decompose (recall.py:152-307, :2151-2223): one natural
    question -> entity/topic sub-queries, all run as ONE multi-recall job."""
    mem = memories_view(spark, sf_dir)
    out = recall_many_hybrid(mem, DECOMPOSED_QUERIES, 5, now=NOW)
    return out.select(
        "query_id", "id",
        F.round("match_score", 6).alias("match_score"),
        F.round("final_score", 6).alias("final_score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/J5 bitemporal current-state filter + supersession replacement
    injection (recall.py:437-449, :596-723): suppress expired/not-yet-valid/
    superseded results, inject the chain head carrying the suppressed row's
    score. The walk is activity-gated per hop (recall.py:452-520), so the
    pool deliberately covers every supersession fixture chain (id < 120),
    including the inactive-newest-edge fallback (60) and inactive-tail
    stop (70, 100) cases."""
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    # even ids only: covers every chain SOURCE while leaving most heads out
    # of the pool, so the injection path (head not already in results) fires
    scored = mem.filter((F.col("id") < 120) & (F.col("id") % 2 == 0)).select(
        "id",
        F.lit("scan").alias("match_type"),
        F.round("importance", 6).alias("final_score"),
    )
    out = current_state_filter(scored, mem, edges, now=NOW)
    return out.select(
        "id", "match_type", "state_replaces",
        F.col("position").cast("bigint").alias("position"),
        F.round("final_score", 6).alias("final_score"),
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located hydration join over the bucketed store layout
    (sources/store_layout.py): memories and edge targets are written
    bucketed+sorted by the join key, so the J1/J8-shaped join runs with NO
    exchange on either side (plan pinned in tests/test_store_layout.py) —
    the bucket files are the shuffle output, paid once at write time. The
    oracle computes the same join over the logical tables: the layout must
    be invisible to the result."""
    import tempfile

    from automem_spark.sources.store_layout import read_table, write_bucketed

    docs = _t(spark, sf_dir, "documents")
    mem = docs.select(F.col("doc_id").alias("id"), "source")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 3) % 500).alias("id"),
    )
    # external-table paths: independent of the session's warehouse dir
    # (the harness may run from a CWD where ./spark-warehouse is not
    # writable; tempdirs always are — same pattern as ann_ivf_indexed)
    base = tempfile.mkdtemp(prefix="automem_bucketed_")
    write_bucketed(mem, "automem_mem_by_id", "id", n_buckets=16,
                   path=f"{base}/mem")
    write_bucketed(edges, "automem_edges_by_dst", "id", n_buckets=16,
                   path=f"{base}/edges")
    joined = read_table(spark, "automem_mem_by_id").join(
        read_table(spark, "automem_edges_by_dst"), "id"
    )
    return joined.groupBy("source").agg(
        F.count("*").alias("n_refs"),
        F.countDistinct("id").alias("n_targets"),
    )


def q_events_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-partitioned event layout (sources/store_layout.py): events are
    written partitioned by day, and the window filter on the read side is
    resolved as PartitionFilters — directory pruning at planning time, the
    hypertable access path for S11/F5 at 100 TB (plan pinned in
    tests/test_store_layout.py). Aggregates one week through the pruned
    scan; the oracle filters the logical table by the same dates."""
    import tempfile

    from automem_spark.sources.store_layout import (
        read_time_partitioned,
        write_time_partitioned,
    )

    ev = _t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="automem_events_byday_")
    write_time_partitioned(ev, base, ts_col="ts", granularity="day")
    back = read_time_partitioned(spark, base)
    week = back.filter(
        (F.col("p_date") >= "2024-01-03") & (F.col("p_date") <= "2024-01-09")
    )
    micro = F.round(F.col("value") * 1e6, 0).cast("long")
    return week.groupBy(
        F.col("p_date").cast("string").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum(micro) / 1e6, 6).alias("total_value"),
    )


def q_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation over the canonical hot-key shape (5 event
    types across the whole stream): the salted two-phase plan
    (plans/salting.py) spreads each hot key over 32 reducers, then
    collapses 5 x 32 partial rows. Sums run in integer micro-units so the
    result is bit-identical to the oracle's plain GROUP BY regardless of
    salt count or partial order — salting must be invisible to results."""
    from automem_spark.plans.salting import salted_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "micro", F.round(F.col("value") * 1e6, 0).cast("long")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        [
            # count_rows == count(*), matching the oracle; plain 'count' is
            # null-skipping count(col) since r7 and would silently diverge
            # if an events fixture ever carried null event_ids
            ("event_id", "count_rows", "n"),
            ("micro", "sum", "_tm"),
            ("micro", "min", "_lo"),
            ("micro", "max", "_hi"),
        ],
        n_salts=32,
        salt_on="event_id",
    )
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("_tm") / 1e6, 6).alias("total_value"),
        F.round(F.col("_lo") / 1e6, 6).alias("min_value"),
        F.round(F.col("_hi") / 1e6, 6).alias("max_value"),
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event sessionization at a 30-minute inactivity gap
    (operators/sessionize.py): the lag/cumsum construction in ONE shuffle
    on user_id (plan pinned in tests/test_sessionize.py), rolled up to
    per-session stats in epoch-second longs (no float aggregation). The
    oracle runs the identical lag + running-sum construction as SQL —
    session boundaries must agree event-for-event; the streaming
    session_window twin is equivalence-tested in the same test file."""
    from automem_spark.operators.sessionize import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, gap_minutes=30)


def q_corpus_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length/token distribution quantiles — the corpus-census
    table a data-mix design reads before setting sampling rates. Exact
    `percentile` here (sort-per-group, oracle-checkable bit-for-bit
    against DuckDB's quantile_cont — both linearly interpolate at
    rank p*(n-1)); at 100 TB the same query swaps in percentile_approx
    (mergeable sketch, no per-group sort) — the approx twin's error bound
    against this exact tier is pinned in tests/test_functions.py
    (test_percentile_approx_close_to_exact)."""
    from automem_spark.operators.textquality import token_count_expr

    docs = _t(spark, sf_dir, "documents")
    toks = token_count_expr(F.col("text")).cast("double")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("chars_p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("chars_p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("chars_p99"),
        F.round(F.percentile(toks, F.lit(0.5)), 6).alias("tokens_p50"),
        F.round(F.percentile(toks, F.lit(0.9)), 6).alias("tokens_p90"),
    )


def q_corpus_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB census tier made driver-verifiable — the approx variant
    q_corpus_profile / q_corpus_quantiles only DOCUMENT: HyperLogLog++
    distinct counts (`approx_count_distinct`, rsd 0.02) and mergeable-
    sketch percentiles (`approx_percentile`, accuracy 10000) in place of
    countDistinct's Expand shuffle and exact percentile's all-values
    per-group buffer. Both are partial-aggregation-friendly: the map side
    ships one bounded sketch per (group, column) instead of every value —
    the only census plan that survives a 100 TB corpus.

    An approximation can't hash-match an exact oracle, so the row carries
    its ACCURACY CONTRACT in the result: the HLL estimate must sit within
    5% of the exact distinct count, and each approx percentile inside the
    exact [p-0.05, p+0.05] rank band (at accuracy 10000 the sketch's rank
    error is <=0.01% — a tripped flag means a broken sketch, not noise;
    band containment follows from rank monotonicity of ELEMENTS, while
    Spark's exact `percentile` INTERPOLATES — for a tiny group the
    interpolated band endpoints can exclude every actual element near p,
    so the band flags are guarded with a minimum group size (n_docs >= 20,
    else trivially TRUE; the r8 advisor caught the unguarded claim). At
    any production scale every group clears the guard and the contract
    binds. The DuckDB oracle computes the exact columns and emits
    literal TRUE flags: any sketch regression flips a Spark-side flag and
    reds the row. Both sketches are deterministic for fixed data +
    partitioning (hash-based HLL; order-insensitive quantile-summary
    merge), so the flags are stable run-to-run."""
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources_exact"),
        F.approx_count_distinct("source", 0.02).alias("_hll"),
        F.expr("approx_percentile(n_chars, array(0.5, 0.95), 10000)").alias("_ap"),
        F.expr("percentile(n_chars, array(0.45, 0.55, 0.90, 0.99))").alias("_ep"),
    )
    def in_band(approx: Column, lo: Column, hi: Column) -> Column:
        # n_docs < 20: interpolated band endpoints are not element-rank
        # bounds for tiny groups — contract trivially satisfied (docstring)
        return (F.col("n_docs") < 20) | ((approx >= lo) & (approx <= hi))

    return agg.select(
        "lang",
        "n_docs",
        "n_sources_exact",
        (
            F.abs(F.col("_hll") - F.col("n_sources_exact"))
            <= 0.05 * F.col("n_sources_exact")
        ).alias("hll_within_5pct"),
        in_band(
            F.element_at("_ap", 1), F.element_at("_ep", 1), F.element_at("_ep", 2)
        ).alias("p50_in_rank_band"),
        in_band(
            F.element_at("_ap", 2), F.element_at("_ep", 3), F.element_at("_ep", 4)
        ).alias("p95_in_rank_band"),
    )


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship hybrid recall at sf0.001."""
    return q_hybrid_recall(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # One row per paper operator (SURVEY.md §2.1-2.11) plus the relational
    # TPC-H/events rows; each has a DuckDB twin in oracle_sql() unless it is
    # a hash-based rows-only check. The order is load-bearing: the external
    # correctness run covers the FIRST 50 entries.
    # Oracle canonicalization rules (learned r6 — the driver hashes pandas
    # frames dtype-sensitively, so these join the md5-twin and integer-
    # micro-unit-average rules as hard invariants):
    #   * every oracle column produced by an integer SUM — windowed OR
    #     plain — must be CAST(... AS BIGINT): DuckDB yields HUGEINT,
    #     pandas coerces it to float64, and the hash diverges from Spark's
    #     int64 even when values agree;
    #   * no bare LIST/array columns in any driver row's output: pandas
    #     sort_values crashes on unhashable cells. Emit scalar columns or a
    #     round()+array_to_string CSV twin on both engines instead.
    #   scripts/check_correctness.py --selftest proves the local gate
    #   fails on both classes.
    # scripts/coverage_ledger.py derives every row's execution-path files
    # (AST import closure) and last green correctness round into COVERAGE.md.
    return {
        "classify": q_classify,
        "decay_relevance": q_decay_relevance,
        "repetition_filter": q_repetition_filter,
        "tag_prefix_scan": q_tag_prefix_scan,
        "text_stats": q_text_stats,
        "text_stats_map": q_text_stats_map,
        "lang_id": q_lang_id,
        "pii_redact": q_pii_redact,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_chunks": q_doc_chunks,
        "chunk_dedup": q_chunk_dedup,
        "decontaminate": q_decontaminate,
        "training_selection": q_training_selection,
        "training_pipeline": q_training_pipeline,
        "min_score_recall": q_min_score_recall,
        "priority_injection": q_priority_injection,
        "scope_fallback": q_scope_fallback,
        "startup_recall": q_startup_recall,
        "ngram_jaccard": q_ngram_jaccard,
        "trending": q_trending,
        "extract_entities": q_extract_entities,
        "decay_stats": q_decay_stats,
        "ann_ivf": q_ann_ivf,
        "simhash": q_simhash,
        "identity_consolidation": q_identity_consolidation,
        "corpus_profile": q_corpus_profile,
        "dedup_fingerprint": q_dedup_fingerprint,
        "forget_classify": q_forget_classify,
        "semantic_decontaminate": q_semantic_decontaminate,
        "vector_topk": q_vector_topk,
        "vector_pairs": q_vector_pairs,
        "user_sessions": q_user_sessions,
        "preceded_by_events": q_preceded_by_events,
        "minhash_lsh": q_minhash_lsh,
        "dedup_pipeline": q_dedup_pipeline,
        "simhash_pairs": q_simhash_pairs,
        "dedup_exact": q_dedup_exact,
        "connected_components": q_connected_components,
        "supersession_heads": q_supersession_heads,
        "hybrid_recall": q_hybrid_recall,
        "multi_recall": q_multi_recall,
        "recall_full": q_recall_full,
        "keyword_search": q_keyword_search,
        "gated_recall": q_gated_recall,
        "adaptive_floor": q_adaptive_floor,
        "metadata_search": q_metadata_search,
        "relations_fetch": q_relations_fetch,
        "cluster_summaries": q_cluster_summaries,
        "auto_decompose": q_auto_decompose,
        "entity_tag_audit": q_entity_tag_audit,
        "doc_summaries": q_doc_summaries,
        "metadata_terms_walk": q_metadata_terms_walk,
        "type_normalize": q_type_normalize,
        "exclude_tags": q_exclude_tags,
        "paginated_scan": q_paginated_scan,
        "tag_scroll": q_tag_scroll,
        "event_log": q_event_log,
        "embedding_coerce": q_embedding_coerce,
        "data_mix": q_data_mix,
        "seq_pack": q_seq_pack,
        "ann_ivf_indexed": q_ann_ivf_indexed,
        "pricing_summary": q_pricing_summary,
        "top_revenue_orders": q_top_revenue_orders,
        "nation_revenue": q_nation_revenue,
        "supplier_revenue": q_supplier_revenue,
        "promo_revenue": q_promo_revenue,
        "order_priority_stats": q_order_priority_stats,
        "events_hourly": q_events_hourly,
        "event_type_stats": q_event_type_stats,
        "event_value_buckets": q_event_value_buckets,
        "event_cube": q_event_cube,
        "graph_stats": q_graph_stats,
        "preference_ranking": q_preference_ranking,
        "sync_drift": q_sync_drift,
        "score_health": q_score_health,
        "sync_repair": q_sync_repair,
        "result_hydration": q_result_hydration,
        "salted_event_stats": q_salted_event_stats,
        "identity_synthesis": q_identity_synthesis,
        "creative_pairs": q_creative_pairs,
        "reembed_batch": q_reembed_batch,
        "recall_touch": q_recall_touch,
        "entity_frequency": q_entity_frequency,
        "time_browse": q_time_browse,
        "label_norms": q_label_norms,
        "consolidation_run": q_consolidation_run,
        "hybrid_recall_vector": q_hybrid_recall_vector,
        "multi_recall_hybrid": q_multi_recall_hybrid,
        "hybrid_recall_metadata": q_hybrid_recall_metadata,
        "entity_expansion": q_entity_expansion,
        "corpus_profile_approx": q_corpus_profile_approx,
        "top_orders_per_customer": q_top_orders_per_customer,
        "customers_without_orders": q_customers_without_orders,
        "metadata_search_unscoped": q_metadata_search_unscoped,
        "single_store": q_single_store,
        "content_governance": q_content_governance,
        "upsert_latest": q_upsert_latest,
        "delete_by_id": q_delete_by_id,
        "delete_by_tag": q_delete_by_tag,
        "associations_create": q_associations_create,
        "graph_snapshot": q_graph_snapshot,
        "backup_export": q_backup_export,
        "uuid_validate": q_uuid_validate,
        "entity_identity_lookup": q_entity_identity_lookup,
        "entity_dedup": q_entity_dedup,
        "entity_merge_apply": q_entity_merge_apply,
        "entity_ref_counts": q_entity_ref_counts,
        "bucketed_join": q_bucketed_join,
        "events_partitioned": q_events_partitioned,
        "corpus_quantiles": q_corpus_quantiles,
        "recency_rerank": q_recency_rerank,
        "related_bfs": q_related_bfs,
        "relation_expansion": q_relation_expansion,
        "graph_neighbors": q_graph_neighbors,
        "current_state": q_current_state,
        "enrich_pipeline": q_enrich_pipeline,
        "pattern_detection": q_pattern_detection,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# Shared SQL fragments ------------------------------------------------------

_WORDS = (
    "list_filter(string_split(trim(regexp_replace(regexp_replace(lower({col}),"
    " '[^\\w\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '), w -> w != '')"
)

_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) /"
    " (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)

_KEYWORDS = extract_keywords(RECALL_QUERY)
_PHRASE = RECALL_QUERY.strip().lower()
_MAX_RAW = 3 * len(_KEYWORDS) + 3


# R3 raw score / X2 tag hits as DuckDB SQL — emitted from the shared scorer
# spec (functions/scorespec.py), the same generator family the Spark-SQL
# fast paths use, so the +2/+1 bonuses and the hit semantics exist once.
_kw_score_sql = scorespec.keyword_raw_score_sql_duck
_tag_hits_sql = scorespec.tag_hits_sql_duck


_KW_SCORE = _kw_score_sql(_KEYWORDS, _PHRASE)

_POOL = (
    "SELECT * FROM memories WHERE NOT archived AND type != 'MetaPattern'"
)

# hybrid score components for keyword-channel rows (match_type='keyword'):
# keyword_c = min(1, match_score); tag_score = token hits over tags / |tokens|;
# recency = max(0, 1 - age_days/window) with future->1. Weights and window
# come from the ONE table (scoring.Weights) via the scorespec emitters —
# the oracle can no longer drift from the engine's constants.
_TAG_HITS = _tag_hits_sql(_KEYWORDS)
_RECENCY = scorespec.recency_sql_duck(NOW)
# X1 blend-tail weights formatted from THE Weights table (r13): the entry
# oracles used to hardcode `0.1 * importance + 0.05 * confidence + 0.1 *`
# — which would have silently diverged from the engine when the lab
# rebalanced the shipped blend. One source now, like the scorespec
# emitters.
from automem_spark.functions.scoring import DEFAULT_WEIGHTS as _DW

_W_IMP = scorespec.wfmt(_DW.importance)
_W_CONF = scorespec.wfmt(_DW.confidence)
_W_REC = scorespec.wfmt(_DW.recency)


def _hybrid_sql(keywords: list[str]) -> str:
    return scorespec.hybrid_keyword_channel_sql_duck(keywords, NOW)


_HYBRID = _hybrid_sql(_KEYWORDS)

_SHINGLES = (
    "CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')] "
    "ELSE list_distinct([array_to_string(ws[i:i+2], ' ') for i in generate_series(1, len(ws)-2)]) END"
)

_LANG_HITS = {
    lang: " + ".join(f"len(list_filter(ws, w -> w = '{m}'))" for m in markers)
    for lang, markers in LANG_MARKERS.items()
}


def _lang_case() -> str:
    hits = ", ".join(f"({expr}) AS h_{lang}" for lang, expr in _LANG_HITS.items())
    langs = list(LANG_MARKERS)
    maxexpr = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    case = f"CASE WHEN {maxexpr} = 0 THEN 'und' "
    for l in langs:
        case += f"WHEN h_{l} = {maxexpr} THEN '{l}' "
    case += "END"
    return hits, case


def _strength(p: str = "") -> str:
    return (
        f"coalesce({p}strength, {p}score, {p}confidence, {p}similarity,"
        f" CAST({p}cnt AS DOUBLE), 0.0)"
    )


def _canon_rel(p: str = "") -> str:
    return (
        f"CASE WHEN {p}rel_type IN ('EXPLAINS', 'SHARES_THEME', 'PARALLEL_CONTEXT')"
        f" THEN 'DISCOVERED' ELSE {p}rel_type END"
    )


_STRENGTH = _strength()
_CANON_REL = _canon_rel()


def _stoplist_sql() -> str:
    from automem_spark.functions.text import SEARCH_STOPWORDS

    return "[" + ", ".join(f"'{s}'" for s in sorted(SEARCH_STOPWORDS)) + "]"


def _classify_oracle() -> str:
    """The injected trigger phrases each match exactly one tier-1 pattern, so
    the expected classification is a pure function of doc_id % 8."""
    type_cases = " ".join(
        f"WHEN doc_id % 8 = {i} THEN '{t}'" for i, (t, _) in enumerate(_TRIGGER_TYPES)
    )
    conf_cases = " ".join(
        f"WHEN doc_id % 8 = {i} THEN {c}" for i, (_, c) in enumerate(_TRIGGER_TYPES)
    )
    return f"""
        SELECT doc_id,
               CASE {type_cases} END AS mem_type,
               round(CAST(CASE {conf_cases} END AS DOUBLE), 6) AS cls_confidence
        FROM documents
    """


def _cycle_sql(phrases: list[str], col: str = "id") -> str:
    """`phrases[col % n]` as a DuckDB expression (1-based list index)."""
    arr = ", ".join("'" + p.replace("'", "''") + "'" for p in phrases)
    return f"([{arr}])[({col} % {len(phrases)}) + 1]"


def _classifier_hits_sql(content: str = "lower(content)") -> list[tuple[str, str]]:
    """Per-type (column_name, hit-count SQL) mirroring classify_memory_expr.

    RE2 (DuckDB) has no negative lookahead, so the Habit pattern
    `\\balways\\b(?!\\s+use\\b)` is expressed by deleting every word-bounded
    "always use" and testing for a surviving "always" — equivalent because
    the replacement cannot split or merge word-bounded tokens."""
    out = []
    for mem_type, pats in CLASSIFIER_PATTERNS.items():
        terms = []
        for p in pats:
            if p == r"\balways\b(?!\s+use\b)":
                terms.append(
                    "(CASE WHEN regexp_matches(regexp_replace("
                    f"{content}, '\\balways\\s+use\\b', '', 'g'), "
                    "'\\balways\\b') THEN 1 ELSE 0 END)"
                )
            else:
                terms.append(
                    f"(CASE WHEN regexp_matches({content}, '{p}') THEN 1 ELSE 0 END)"
                )
        out.append((f"n_{mem_type.lower()}", "(" + " + ".join(terms) + ")"))
    return out


def _enrich_pipeline_oracle() -> str:
    amem = f"""amem AS (
    SELECT id,
           concat_ws(' ', content,
                     {_cycle_sql(ENTITY_PEOPLE_PHRASES)},
                     {_cycle_sql(ENTITY_TOOL_PHRASES)},
                     {_cycle_sql(ENTITY_PROJECT_PHRASES)})
           || {_cycle_sql(TRIGGER_PHRASES, "id % 8")} AS content,
           tags, timestamp, source
    FROM memories
    WHERE id < {ENRICH_SLICE}
)"""
    fixture = MEMORIES_ORACLE_CTE + ",\n" + amem

    hits = _classifier_hits_sql()
    hit_cols = ",\n           ".join(f"{expr} AS {name}" for name, expr in hits)
    type_cases = " ".join(
        f"WHEN {name} > 0 THEN '{t}'"
        for (name, _), t in zip(hits, CLASSIFIER_PATTERNS.keys())
    )
    conf_cases = " ".join(
        f"WHEN {name} > 0 THEN (CASE WHEN {name} > 1"
        f" THEN least(0.95, 0.6 + {name} * 0.1) ELSE 0.6 END)"
        for name, _ in hits
    )

    tags2 = (
        "c.tags || list_filter(coalesce(e.entity_tags, CAST([] AS VARCHAR[])),"
        " t -> NOT list_contains(c.tags, t))"
    )
    parts = "list_filter(string_split_regex(lower(trim(t)), '[:/]'), p -> p != '')"
    prefixes = (
        f"list_sort(list_distinct(flatten(list_transform({tags2},"
        f" t -> list_transform(range(1, len({parts}) + 1),"
        f" i -> array_to_string(list_slice({parts}, 1, i), ':'))))))"
    )

    return (
        "WITH "
        + extract_entities_oracle_ctes(fixture)
        + f""",
etags AS (
    SELECT id, list_sort(list(DISTINCT canonical_tag)) AS entity_tags
    FROM ents GROUP BY id
),
clsn AS (
    SELECT *,
           {hit_cols}
    FROM amem
),
cls AS (
    SELECT *, CASE {type_cases} ELSE 'Memory' END AS mem_type,
           CAST(CASE {conf_cases} ELSE 0.3 END AS DOUBLE) AS cls_confidence
    FROM clsn
),
summ AS (
    SELECT id, trim(CASE WHEN length(first) <= 240 THEN first
                         WHEN length(regexp_extract(head, '^(.*)\\s\\S*$', 1)) > 0
                              THEN regexp_extract(head, '^(.*)\\s\\S*$', 1)
                         ELSE head END) AS summary
    FROM (SELECT id, first, substring(first, 1, 240) AS head FROM (
        SELECT id, CASE WHEN regexp_extract(content, '^(.*?[.!?])(\\s|$)', 1) = ''
                        THEN content
                        ELSE regexp_extract(content, '^(.*?[.!?])(\\s|$)', 1) END AS first
        FROM amem))
),
ntemp AS (
    SELECT a.id AS id, least(3, count(p.id)) AS n_temporal
    FROM amem a LEFT JOIN amem p
      ON p.source = a.source AND p.id != a.id
     AND p.timestamp < a.timestamp
     AND p.timestamp >= a.timestamp - INTERVAL 7 DAY
    GROUP BY a.id
),
npairs AS (
    SELECT a.vec_id AS src, b.vec_id AS dst
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < {ENRICH_SLICE} AND b.vec_id < {ENRICH_SLICE}
      AND {_COS.format(a='a.embedding', b='b.embedding')} >= 0.25
),
nneigh AS (
    SELECT id, least(5, count(*)) AS n_neighbors
    FROM (SELECT src AS id FROM npairs UNION ALL SELECT dst AS id FROM npairs)
    GROUP BY id
),
pconf AS (SELECT mem_type, content FROM cls WHERE cls_confidence > 0.5),
psizes AS (
    SELECT mem_type, count(*) AS n_members FROM pconf
    GROUP BY mem_type HAVING count(*) >= 4
),
ptoks AS (
    SELECT c.mem_type AS mem_type, u.term AS term
    FROM pconf c JOIN psizes s USING (mem_type),
    unnest(list_filter(regexp_extract_all(lower(c.content), '[a-zA-Z]{{4,}}'),
                       x -> NOT list_contains({_stoplist_sql()}, x))) AS u(term)
),
pcounts AS (SELECT mem_type, term, count(*) AS tc FROM ptoks GROUP BY mem_type, term),
ptop AS (
    SELECT mem_type, term AS pattern_term FROM (
        SELECT *, row_number() OVER (
            PARTITION BY mem_type ORDER BY tc DESC, term ASC
        ) AS rn FROM pcounts
    ) WHERE rn = 1
)
SELECT c.id AS id, c.mem_type AS mem_type,
       round(c.cls_confidence, 6) AS cls_confidence,
       s.summary AS summary,
       coalesce(array_to_string(e.entity_tags, '|'), '') AS entity_tags,
       coalesce(array_to_string({tags2}, '|'), '') AS tags_enriched,
       coalesce(array_to_string({prefixes}, '|'), '') AS tag_prefixes,
       CAST(t.n_temporal AS BIGINT) AS n_temporal,
       CAST(coalesce(nn.n_neighbors, 0) AS BIGINT) AS n_neighbors,
       coalesce(p.pattern_term, '') AS pattern_term
FROM cls c
JOIN summ s USING (id)
LEFT JOIN etags e ON e.id = c.id
JOIN ntemp t ON t.id = c.id
LEFT JOIN nneigh nn ON nn.id = c.id
LEFT JOIN ptop p ON p.mem_type = c.mem_type
"""
    )


def _gated_recall_oracle() -> str:
    """X4 twin: the flagship keyword page under relevance_gate=0.5 — the
    query-independent components ramp by evidence/gate below the gate."""
    kwc = "least(1.0, match_score)"
    scale = f"(CASE WHEN {kwc} < 0.5 THEN {kwc} / 0.5 ELSE 1.0 END)"
    gated = (
        f"0.35 * {kwc} + {scale} * ("
        f"0.2 * least(1.0, ({_tag_hits_sql(_KEYWORDS)}) / {float(len(_KEYWORDS))}) "
        f"+ {_W_IMP} * importance + {_W_CONF} * confidence + {_W_REC} * {_RECENCY})"
    )
    return _scored_kw_oracle(10) + f"""
        SELECT id, round(match_score, 6) AS match_score,
               round({gated}, 6) AS final_score
        FROM scored
    """


def _result_hydration_oracle() -> str:
    """J8/J9 twin: flagship keyword page + X18 summaries + J1-ordered top-3
    relations for exactly the trimmed ids, sentinel-filled."""
    return (
        _scored_kw_oracle(10)
        + ", "
        + EDGES_ORACLE_CTE
        + f"""
        , summ AS (
            SELECT id, trim(CASE WHEN length(first) <= 240 THEN first
                                 WHEN length(regexp_extract(head, '^(.*)\\s\\S*$', 1)) > 0
                                      THEN regexp_extract(head, '^(.*)\\s\\S*$', 1)
                                 ELSE head END) AS summary
            FROM (SELECT id, first, substring(first, 1, 240) AS head FROM (
                SELECT id, CASE WHEN regexp_extract(content, '^(.*?[.!?])(\\s|$)', 1) = ''
                                THEN content
                                ELSE regexp_extract(content, '^(.*?[.!?])(\\s|$)', 1) END AS first
                FROM scored))
        ),
        rel AS (
            SELECT src, dst, rel_type, strength, rank FROM (
                SELECT e.src AS src, e.dst AS dst,
                       {_canon_rel('e.')} AS rel_type,
                       {_strength('e.')} AS strength,
                       row_number() OVER (
                           PARTITION BY e.src
                           ORDER BY coalesce(CAST(e.updated_at_epoch AS DOUBLE),
                                             epoch(m.timestamp)) DESC,
                                    e.dst ASC, {_canon_rel('e.')} ASC
                       ) AS rank
                FROM edges e JOIN memories m ON m.id = e.dst
                WHERE e.src IN (SELECT id FROM scored)
            ) WHERE rank <= 3
        )
        SELECT s.id AS id, round(f.final, 6) AS final_score, su.summary AS summary,
               CAST(coalesce(r.rank, -1) AS BIGINT) AS rel_rank,
               CAST(coalesce(r.dst, -1) AS BIGINT) AS rel_dst,
               coalesce(r.rel_type, '') AS rel_type,
               round(coalesce(r.strength, -1.0), 6) AS rel_strength
        FROM scored s
        JOIN final f ON f.id = s.id
        JOIN summ su ON su.id = s.id
        LEFT JOIN rel r ON r.src = s.id
    """
    )


def _recall_touch_oracle() -> str:
    """ST7: the flagship recall's id set (keyword channel, limit 10) each
    stamped with the fixed NOW day."""
    return _scored_kw_oracle(10) + f"""
        SELECT id, strftime(TIMESTAMP '{NOW}', '%Y-%m-%d') AS accessed_day
        FROM scored
    """


def _associations_create_oracle() -> str:
    from automem_spark.operators.ingest import AUTHORABLE_RELATION_PROPS

    cyc = _cycle_sql(ASSOC_REL_CYCLE, "doc_id")
    authorable = ", ".join(f"'{t}'" for t in AUTHORABLE_RELATION_PROPS)
    fixture_keys = ("context", "reason", "bogus_key", "pattern_type")
    kept_cases = " ".join(
        "WHEN '{t}' THEN '{kept}'".format(
            t=t,
            kept="|".join(
                sorted(k for k in fixture_keys if k in props and k not in ("strength", "updated_at"))
            ),
        )
        for t, props in AUTHORABLE_RELATION_PROPS.items()
    )
    return f"""
        WITH {MEMORIES_ORACLE_CTE},
        req AS (
            SELECT doc_id AS idx,
                   CASE WHEN doc_id % 17 = 3 THEN ''
                        ELSE CAST(doc_id % 400 AS STRING) END AS id1,
                   CASE WHEN doc_id % 10 = 0 THEN CAST(doc_id % 400 AS STRING)
                        ELSE CAST((doc_id * 7 + 13) % 600 AS STRING) END AS id2,
                   upper(CASE WHEN trim({cyc}) = '' THEN 'RELATES_TO'
                              ELSE trim({cyc}) END) AS rel_type,
                   (doc_id % 15) / 10.0 - 0.2 AS strength_raw
            FROM documents
        ),
        v AS (
            SELECT *,
                   CASE WHEN id1 = '' OR id2 = '' THEN 'rejected_missing_id'
                        WHEN id1 = id2 THEN 'rejected_self'
                        WHEN rel_type NOT IN ({authorable}) THEN 'rejected_type'
                        WHEN id1 NOT IN (SELECT CAST(id AS STRING) FROM memories)
                          OR id2 NOT IN (SELECT CAST(id AS STRING) FROM memories)
                             THEN 'rejected_not_found'
                        ELSE 'created' END AS status
            FROM req
        )
        SELECT idx, status, rel_type,
               round(least(1.0, greatest(0.0, coalesce(strength_raw, 0.5))), 6) AS strength,
               CASE WHEN status = 'created'
                    THEN CASE rel_type {kept_cases} ELSE '' END
                    ELSE '' END AS kept_props
        FROM v
    """


def _type_normalize_oracle() -> str:
    from automem_spark.operators.ingest import CANONICAL_MEMORY_TYPES, TYPE_ALIASES

    raw_cases, norm_cases, mod_cases = [], [], []
    for i, t in enumerate(RAW_TYPE_CYCLE):
        if i == _RAW_NULL_IDX:
            raw, norm, mod = "<null>", "Context", 1
        elif t == "":
            raw, norm, mod = "", "Context", 1
        elif t in CANONICAL_MEMORY_TYPES:
            raw, norm, mod = t, t, 0
        elif t in TYPE_ALIASES:
            raw, norm, mod = t, TYPE_ALIASES[t], 1
        else:
            raw, norm, mod = t, "", 1
        raw_cases.append(f"WHEN {i} THEN '{raw}'")
        norm_cases.append(f"WHEN {i} THEN '{norm}'")
        mod_cases.append(f"WHEN {i} THEN {mod}")
    n = len(RAW_TYPE_CYCLE)
    return f"""
        SELECT doc_id,
               CASE doc_id % {n} {' '.join(raw_cases)} END AS raw_type,
               CASE doc_id % {n} {' '.join(norm_cases)} END AS normalized,
               CASE doc_id % {n} {' '.join(mod_cases)} END AS was_modified
        FROM documents
    """


def _multi_recall_oracle(queries: list[tuple[str, str]] = MULTI_QUERIES) -> str:
    blocks = []
    for qid, text in queries:
        kws = extract_keywords(text.strip().lower())
        phrase = text.strip().lower()
        max_raw = 3 * len(kws) + 3
        kw_score = _kw_score_sql(kws, phrase)
        hybrid = _hybrid_sql(kws)
        # two-phase ordering (r12, = N× single-query recall): slots by the
        # raw keyword ordering, output rank by the W1 blended sort
        blocks.append(f"""
            SELECT '{qid}' AS query_id, id,
                   round(match_score, 6) AS match_score,
                   round(final, 6) AS final_score,
                   row_number() OVER (
                       ORDER BY round(final, 6) DESC, match_score DESC,
                                importance DESC, timestamp DESC, id ASC
                   ) AS rank
            FROM (
                SELECT *, {hybrid} AS final FROM (
                    SELECT *, least(1.0, raw_score / {float(max_raw)}) AS match_score,
                           row_number() OVER (
                               ORDER BY raw_score DESC, importance DESC, timestamp DESC, id ASC
                           ) AS slot
                    FROM (
                        SELECT *, CAST({kw_score} AS DOUBLE) AS raw_score FROM ({_POOL})
                    ) WHERE raw_score > 0
                ) WHERE slot <= 5
            )
        """)
    return "WITH " + MEMORIES_ORACLE_CTE + "\nUNION ALL\n".join(blocks)


def _scored_kw_oracle(limit: int) -> str:
    """Shared CTE: keyword channel top-`limit` with hybrid final score."""
    return (
        "WITH "
        + MEMORIES_ORACLE_CTE
        + f"""
        , scored AS (
            SELECT *, least(1.0, raw_score / {float(_MAX_RAW)}) AS match_score
            FROM (
                SELECT *, CAST({_KW_SCORE} AS DOUBLE) AS raw_score FROM ({_POOL})
            )
            WHERE raw_score > 0
            ORDER BY raw_score DESC, importance DESC, timestamp DESC, id ASC
            LIMIT {limit}
        ),
        final AS (SELECT id, timestamp, {_HYBRID} AS final FROM scored)
        """
    )


def _kw_block_sql(pool_sql: str, limit: int) -> str:
    """Scored keyword-channel block over an arbitrary pool: yields
    (id, importance, timestamp, match_score, final)."""
    return f"""
        SELECT id, importance, timestamp, match_score, {_HYBRID} AS final
        FROM (
            SELECT *, least(1.0, raw_score / {float(_MAX_RAW)}) AS match_score
            FROM (
                SELECT *, CAST({_KW_SCORE} AS DOUBLE) AS raw_score FROM ({pool_sql})
            )
            WHERE raw_score > 0
            ORDER BY raw_score DESC, importance DESC, timestamp DESC, id ASC
            LIMIT {limit}
        )
    """


_SCOPE_MATCH = (
    "len(list_filter([replace(lower(t), '/', ':') for t in tags],"
    " t -> starts_with(t, 'source:src7'))) > 0"
)


def _scope_fallback_oracle() -> str:
    time_pred = (
        f"timestamp >= TIMESTAMP '{SCOPE_START}' AND timestamp <= TIMESTAMP '{SCOPE_END}'"
    )
    scoped_pool = f"{_POOL} AND {time_pred} AND ({_SCOPE_MATCH})"
    fallback_pool = f"{_POOL} AND {time_pred} AND NOT ({_SCOPE_MATCH})"
    return (
        "WITH "
        + MEMORIES_ORACLE_CTE
        + f"""
        , scoped AS ({_kw_block_sql(scoped_pool, 15)}),
        fills AS (
            SELECT * FROM ({_kw_block_sql(fallback_pool, 15)})
            WHERE id NOT IN (SELECT id FROM scoped)
        ),
        unioned AS (
            SELECT id, true AS in_scope, final, match_score, importance, timestamp FROM scoped
            UNION ALL
            SELECT id, false, final, match_score, importance, timestamp FROM fills
        )
        SELECT id, in_scope, position, round(final, 6) AS final_score FROM (
            SELECT *, row_number() OVER (
                ORDER BY in_scope DESC, final DESC, match_score DESC,
                         importance DESC, timestamp DESC, id ASC
            ) AS position FROM unioned
        ) WHERE position <= 15
    """
    )


def _priority_injection_oracle() -> str:
    return (
        "WITH "
        + MEMORIES_ORACLE_CTE
        + f"""
        , base AS (
            SELECT id, 'keyword' AS match_type, match_score, final, importance, timestamp
            FROM (
                SELECT *, row_number() OVER (
                    ORDER BY final DESC, match_score DESC, importance DESC,
                             timestamp DESC, id ASC
                ) AS rn
                FROM ({_kw_block_sql(_POOL, 10)})
            ) WHERE rn <= 10
        ),
        wanted AS (
            SELECT id, importance, timestamp FROM memories
            WHERE id IN (7, 13) AND NOT coalesce(archived, false)
        ),
        injected AS (
            SELECT w.id AS id, 'priority_id' AS match_type, 0.0 AS match_score,
                   0.0 AS final, w.importance AS importance, w.timestamp AS timestamp
            FROM wanted w WHERE w.id NOT IN (SELECT id FROM base)
        ),
        unioned AS (SELECT * FROM base UNION ALL SELECT * FROM injected)
        SELECT id, match_type, position, round(final, 6) AS final_score FROM (
            SELECT *, row_number() OVER (
                ORDER BY (CASE WHEN id IN (7, 13) THEN 1 ELSE 0 END) DESC,
                         final DESC, match_score DESC, importance DESC,
                         timestamp DESC, id ASC
            ) AS position FROM unioned
        ) WHERE position <= 10
    """
    )


# J16 candidate scoring as a reusable CTE chain (ends at `bucketed`);
# consumed by the dedup/merge oracles and the composed C5 chain.
_DEDUP_CHAIN_SQL = """
        active AS (SELECT id, slug, category FROM entities WHERE merged_into IS NULL),
        refsets AS (
            SELECT entity_id, list_distinct(list(memory_id)) AS mems
            FROM entity_refs GROUP BY entity_id
        ),
        e AS (
            SELECT a.id AS id, a.slug AS slug, a.category AS category,
                   coalesce(r.mems, []::BIGINT[]) AS mems
            FROM active a LEFT JOIN refsets r ON r.entity_id = a.id
        ),
        ext AS (
            SELECT category, string_split(slug, '-')[1] AS first_token, count(*) AS n_ext
            FROM active WHERE contains(slug, '-') GROUP BY category, first_token
        ),
        pairs AS (
            SELECT a.id AS id_a, a.slug AS slug_a, b.id AS id_b, b.slug AS slug_b,
                   a.category AS category, a.mems AS mems_a, b.mems AS mems_b
            FROM e a JOIN e b ON a.category = b.category AND a.id < b.id
        ),
        scored AS (
            SELECT *,
                CASE WHEN slug_a = slug_b THEN 1.0
                     WHEN contains(slug_a, slug_b) OR contains(slug_b, slug_a)
                          THEN greatest(0.6, CAST(least(length(slug_a), length(slug_b)) AS DOUBLE)
                                             / greatest(length(slug_a), length(slug_b)))
                     ELSE greatest(0.0, 1.0 - CAST(levenshtein(slug_a, slug_b) AS DOUBLE)
                                              / greatest(greatest(length(slug_a), length(slug_b)), 1))
                END AS slug_sim,
                CASE WHEN len(mems_a) > 0 AND len(mems_b) > 0
                     THEN CAST(len(list_intersect(mems_a, mems_b)) AS DOUBLE)
                          / least(len(mems_a), len(mems_b))
                     ELSE 0.0 END AS overlap,
                (contains(slug_a, slug_b) OR contains(slug_b, slug_a)) AS is_substring,
                CASE WHEN length(slug_a) >= length(slug_b) THEN id_a ELSE id_b END AS canonical_id,
                CASE WHEN length(slug_a) >= length(slug_b) THEN slug_b ELSE slug_a END AS alias_slug
            FROM pairs
        ),
        conf AS (
            SELECT *, least(1.0, slug_sim * 0.4 + overlap * 0.6) AS confidence
            FROM scored WHERE slug_sim >= 0.5
        ),
        amb AS (
            SELECT c.*, (c.category = 'people' AND NOT contains(c.alias_slug, '-')
                         AND length(c.alias_slug) >= 3
                         AND coalesce(x.n_ext, 0) > 1) AS ambiguous
            FROM conf c LEFT JOIN ext x
              ON x.category = c.category AND x.first_token = c.alias_slug
        ),
        bucketed AS (
            SELECT *, CASE WHEN is_substring AND overlap > 0.6 AND confidence >= 0.8
                                AND NOT ambiguous THEN 'auto'
                           WHEN confidence >= 0.5 OR ambiguous THEN 'review' END AS bucket
            FROM amb
        )
        """


def _entity_dedup_oracle(apply: bool = False) -> str:
    base = (
        "WITH "
        + entities_oracle_cte()
        + ", "
        + entity_refs_oracle_cte()
        + ","
        + _DEDUP_CHAIN_SQL
    )
    if not apply:
        return base + """
            SELECT id_a AS entity_a, id_b AS entity_b, canonical_id, bucket,
                   round(slug_sim, 6) AS slug_sim, round(overlap, 6) AS overlap,
                   round(confidence, 6) AS confidence
            FROM bucketed WHERE bucket IS NOT NULL
        """
    return base + """
        , merges AS (
            SELECT canonical_id,
                   CASE WHEN canonical_id = id_a THEN id_b ELSE id_a END AS alias_id
            FROM bucketed WHERE bucket = 'auto'
        ),
        rewritten AS (
            SELECT DISTINCT coalesce(m.canonical_id, r.entity_id) AS entity_id, r.memory_id
            FROM entity_refs r LEFT JOIN merges m ON m.alias_id = r.entity_id
        )
        SELECT entity_id, count(*) AS n_refs FROM rewritten GROUP BY entity_id
    """


def _identity_synthesis_oracle(
    entities_src: str = "entities", refs_src: str = "entity_refs", extra: str = ""
) -> str:
    """U5 scaffold twin: state filter + one-hop suppression + change
    detection + numbered prompt block + versioned template synthesis, all
    as one CTE chain (identity_synthesis.py:18-313 semantics).
    `entities_src`/`refs_src` name the CTEs the synthesis reads — the
    composed C5 variant points them at the post-merge set built by
    `extra` CTEs (run_identity_consolidation:313-418 step 1)."""
    state_rows = ", ".join(
        f"({eid}, '{txt}', {ver}, {cnt})" for eid, txt, ver, cnt in IDENTITY_STATE
    )
    return (
        "WITH "
        + MEMORIES_ORACLE_CTE
        + ", "
        + EDGES_ORACLE_CTE
        + ", "
        + entities_oracle_cte()
        + ", "
        + entity_refs_oracle_cte()
        + (", " + extra if extra else "")
        + f""",
        ist AS (SELECT * FROM (VALUES {state_rows})
                s(entity_id, identity, identity_version, identity_source_count)),
        ann AS (
            SELECT id, content, importance, timestamp,
                CASE WHEN archived THEN 'archived'
                     WHEN t_valid IS NOT NULL AND t_valid > TIMESTAMP '{NOW}' THEN 'not_yet_valid'
                     WHEN t_invalid IS NOT NULL AND t_invalid <= TIMESTAMP '{NOW}' THEN 'expired'
                END AS reason
            FROM memories
        ),
        cur AS (SELECT * FROM ann WHERE reason IS NULL),
        sup AS (
            SELECT DISTINCT e.src AS id FROM edges e
            JOIN cur c ON c.id = e.dst
            WHERE e.rel_type IN ('EVOLVED_INTO', 'INVALIDATED_BY')
        ),
        live AS (SELECT * FROM cur WHERE id NOT IN (SELECT id FROM sup)),
        gathered AS (
            SELECT r.entity_id, m.id, m.content, m.importance, m.timestamp
            FROM {refs_src} r JOIN live m ON m.id = r.memory_id
        ),
        cnt AS (SELECT entity_id, count(*) AS actual FROM gathered GROUP BY entity_id),
        elig AS (
            SELECT e.id AS entity_id, e.slug, e.category,
                   coalesce(s.identity_version, 0) AS ver,
                   s.identity AS prev, c.actual
            FROM {entities_src} e
            LEFT JOIN ist s ON s.entity_id = e.id
            JOIN cnt c ON c.entity_id = e.id
            WHERE e.merged_into IS NULL AND c.actual >= 1
              AND (s.identity IS NULL OR c.actual != s.identity_source_count)
        ),
        ranked AS (
            SELECT entity_id, id, content, timestamp,
                   row_number() OVER (
                       PARTITION BY entity_id
                       ORDER BY coalesce(importance, 0.0) DESC, id ASC
                   ) AS rn
            FROM gathered
        ),
        lines AS (
            SELECT entity_id, rn,
                   rn || '. [' || strftime(timestamp, '%Y-%m-%d') || '] '
                      || substr(trim(content), 1, 300) AS line
            FROM ranked WHERE rn <= 3 AND trim(content) != ''
        ),
        blocks AS (
            SELECT entity_id, string_agg(line, chr(10) ORDER BY rn) AS block,
                   count(*) AS n_prompt
            FROM lines GROUP BY entity_id
        ),
        modes AS (
            SELECT el.*, b.block, b.n_prompt,
                   CASE WHEN el.prev IS NULL THEN 'initial'
                        WHEN el.ver > 0 AND el.ver % 5 = 0 THEN 'full_resynthesis'
                        ELSE 'refine' END AS synthesis_mode
            FROM elig el JOIN blocks b ON b.entity_id = el.entity_id
        )
        SELECT entity_id, slug, synthesis_mode,
               slug || ' (' || category || '): synthesized from ' || actual
                    || ' current memories; chief evidence: '
                    || substr(split_part(block, chr(10), 1), 1, 120)
                    || CASE WHEN synthesis_mode = 'refine'
                                THEN ' [refines v' || ver || ']'
                            WHEN synthesis_mode = 'full_resynthesis'
                                THEN ' [full re-synthesis]'
                            ELSE '' END AS identity,
               CAST(ver + 1 AS BIGINT) AS identity_version,
               CAST(actual AS BIGINT) AS identity_source_count,
               CAST(n_prompt AS BIGINT) AS n_prompt_memories,
               CAST(length(block) AS BIGINT) AS prompt_chars
        FROM modes
    """
    )


def _single_store_oracle() -> str:
    """S1 twin: tag cleanup, U3 classification, X18 summary, X12 prefixes,
    X19 clamp over the one-row request."""
    hits = _classifier_hits_sql()
    hit_cols = ",\n           ".join(f"{expr} AS {name}" for name, expr in hits)
    type_cases = " ".join(
        f"WHEN {name} > 0 THEN '{t}'"
        for (name, _), t in zip(hits, CLASSIFIER_PATTERNS.keys())
    )
    conf_cases = " ".join(
        f"WHEN {name} > 0 THEN (CASE WHEN {name} > 1"
        f" THEN least(0.95, 0.6 + {name} * 0.1) ELSE 0.6 END)"
        for name, _ in hits
    )
    parts = "list_filter(string_split_regex(lower(trim(t)), '[:/]'), p -> p != '')"
    prefixes = (
        f"list_sort(list_distinct(flatten(list_transform(tags,"
        f" t -> list_transform(range(1, len({parts}) + 1),"
        f" i -> array_to_string(list_slice({parts}, 1, i), ':'))))))"
    )
    return f"""
        WITH req AS (
            SELECT doc_id AS id, text AS content,
                   ['Lang:' || lang, '  Manual/Entry  ', ''] AS rtags
            FROM documents WHERE doc_id = 42
        ),
        norm AS (
            SELECT id, content,
                   list_filter(list_transform(rtags, t -> trim(t)), t -> t != '') AS tags
            FROM req
        ),
        clsn AS (SELECT *, {hit_cols} FROM norm),
        cls AS (
            SELECT *, CASE {type_cases} ELSE 'Memory' END AS norm_type,
                   CAST(CASE {conf_cases} ELSE 0.3 END AS DOUBLE) AS cls_confidence
            FROM clsn
        ),
        summ AS (
            SELECT id, trim(CASE WHEN length(first) <= 240 THEN first
                                 WHEN length(regexp_extract(head, '^(.*)\\s\\S*$', 1)) > 0
                                      THEN regexp_extract(head, '^(.*)\\s\\S*$', 1)
                                 ELSE head END) AS summary
            FROM (SELECT id, first, substring(first, 1, 240) AS head FROM (
                SELECT id, CASE WHEN regexp_extract(content, '^(.*?[.!?])(\\s|$)', 1) = ''
                                THEN content
                                ELSE regexp_extract(content, '^(.*?[.!?])(\\s|$)', 1) END AS first
                FROM norm))
        )
        SELECT c.id AS id, c.norm_type AS norm_type,
               round(c.cls_confidence, 6) AS cls_confidence,
               s.summary AS summary,
               array_to_string({prefixes}, '|') AS tag_prefixes,
               CAST(1.0 AS DOUBLE) AS importance
        FROM cls c JOIN summ s USING (id)
    """


def _uuid_validate_oracle() -> str:
    from automem_spark.operators.ingest import _UUID_RE

    return (
        """
        WITH h AS (SELECT doc_id, md5(CAST(doc_id AS STRING)) AS hx FROM documents),
        c AS (
            SELECT doc_id, hx,
                   substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-'
                   || substr(hx, 13, 4) || '-' || substr(hx, 17, 4) || '-'
                   || substr(hx, 21, 12) AS canon
            FROM h
        ),
        cand AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0 THEN canon
                        WHEN doc_id % 4 = 1 THEN substr(hx, 1, 32)
                        WHEN doc_id % 4 = 2 THEN upper(canon)
                        ELSE 'z' || substr(canon, 2, 35) END AS candidate
            FROM c
        )
        SELECT doc_id, candidate,
               regexp_matches(candidate, '"""
        + _UUID_RE
        + """') AS is_valid
        FROM cand
    """
    )


# X2 keyword-component fallback for non-keyword matches — shared spec emitter
_kw_fallback_sql = scorespec.keyword_fallback_sql_duck


def _hybrid_vector_oracle() -> str:
    """SO1: vector (overfetch 40) ∪ remaining-slot-gated keyword -> X1/X2
    blend with channel-precedence dedup -> W1 top 10. The keyword channel
    only fills max(0, limit - |vector|) slots with vector ids excluded
    first (recall.py:1999-2013) — with the 4× overfetch filling the limit
    it contributes nothing, matching the reference."""
    cos = _COS.format(a="me.embedding", b="q.qv")
    final = (
        f"0.35 * (CASE WHEN match_type = 'vector' THEN match_score ELSE 0.0 END) "
        f"+ 0.35 * (CASE WHEN match_type IN ('keyword', 'trending')"
        f" THEN least(1.0, match_score) ELSE {_kw_fallback_sql(_KEYWORDS)} END) "
        f"+ 0.2 * least(1.0, ({_TAG_HITS}) / {float(len(_KEYWORDS))}) "
        f"+ {_W_IMP} * importance + {_W_CONF} * confidence + {_W_REC} * {_RECENCY}"
    )
    return (
        "WITH "
        + MEMORIES_ORACLE_CTE
        + f"""
        , me AS (
            SELECT m.*, e.embedding AS embedding
            FROM ({_POOL}) m JOIN embeddings e ON e.vec_id = m.id
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {VECTOR_QUERY_VEC_ID}),
        vec AS (
            SELECT id, 'vector' AS match_type, {cos} AS match_score,
                   content, tags, importance, confidence, timestamp
            FROM me, q
            ORDER BY match_score DESC, id ASC
            LIMIT 40
        ),
        kw AS (
            SELECT id, 'keyword' AS match_type,
                   least(1.0, raw_score / {float(_MAX_RAW)}) AS match_score,
                   content, tags, importance, confidence, timestamp
            FROM (SELECT *, CAST({_KW_SCORE} AS DOUBLE) AS raw_score FROM me
                  WHERE id NOT IN (SELECT id FROM vec))
            WHERE raw_score > 0
            ORDER BY raw_score DESC, importance DESC, timestamp DESC, id ASC
            LIMIT 10
        ),
        kw_gated AS (
            SELECT * EXCLUDE (kr) FROM (
                SELECT k.*, row_number() OVER (
                    ORDER BY match_score DESC, importance DESC,
                             timestamp DESC, id ASC) AS kr
                FROM kw k
            ) WHERE kr <= greatest(10 - (SELECT count(*) FROM vec), 0)
        ),
        cand AS (SELECT * FROM vec UNION ALL SELECT * FROM kw_gated),
        scored AS (
            SELECT *, {final} AS final,
                   CASE match_type WHEN 'vector' THEN 4 WHEN 'keyword' THEN 3
                        ELSE 0 END AS cp
            FROM cand
        ),
        dd AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY id ORDER BY cp DESC, final DESC, timestamp DESC
                ) AS rn FROM scored
            ) WHERE rn = 1
        )
        SELECT id, match_type, round(match_score, 5) AS match_score,
               round(final, 5) AS final_score
        FROM dd
        ORDER BY final DESC, match_score DESC, importance DESC, timestamp DESC, id ASC
        LIMIT 10
    """
    )


def _multi_recall_hybrid_oracle() -> str:
    """R10/R11 all-channel multi-query oracle: per query, vector top-k'
    (overfetch ×4) → remaining-slot-gated keyword (vector ids excluded
    before the cut) → metadata sidecar (slots consumed before precedence
    dedup) → X1/X2 blend → per-query top-`limit`. One block per query,
    UNION ALL — the SQL twin of recall_many_hybrid (reference semantics:
    automem/api/recall.py:1740-1742, 2201-2223 per sub-query)."""
    limit = MULTI_HYBRID_LIMIT
    k = max(limit, min(limit * 4, 200))
    md_slots = min(limit, 10)
    sql = (
        "WITH "
        + MEMORIES_ORACLE_CTE
        + f"""
        , me AS (
            SELECT m.*, e.embedding AS embedding
            FROM ({_POOL}) m JOIN embeddings e ON e.vec_id = m.id
        )"""
    )
    blocks = []
    for i, (qid, text) in enumerate(MULTI_HYBRID_QUERIES):
        toks = extract_keywords(text.strip().lower())
        phrase = text.strip().lower()
        max_raw = 3 * len(toks) + 3
        kw_score = _kw_score_sql(toks, phrase)
        md_score = metadata_score_sql({f: f for f in _META_FIELDS}, text)
        vid = MULTI_HYBRID_VECTOR_IDS.get(qid)
        n = f"q{i}"
        if vid is not None:
            cos = _COS.format(a="me.embedding", b="qv.qv")
            vec_body = f"""
            SELECT id, {cos} AS ms, content, tags, importance, confidence, timestamp
            FROM me, (SELECT embedding AS qv FROM embeddings WHERE vec_id = {vid}) qv
            ORDER BY ms DESC, id ASC LIMIT {k}"""
        else:
            vec_body = """
            SELECT id, 0.0 AS ms, content, tags, importance, confidence, timestamp
            FROM me WHERE false"""
        sql += f""",
        vec_{n} AS ({vec_body}),
        kw_{n} AS (
            SELECT * EXCLUDE (kr) FROM (
                SELECT id, least(1.0, raw_score / {float(max_raw)}) AS ms,
                       content, tags, importance, confidence, timestamp,
                       row_number() OVER (
                           ORDER BY raw_score DESC, importance DESC,
                                    timestamp DESC, id ASC) AS kr
                FROM (SELECT *, CAST({kw_score} AS DOUBLE) AS raw_score FROM me
                      WHERE id NOT IN (SELECT id FROM vec_{n}))
                WHERE raw_score > 0
            ) WHERE kr <= greatest({limit} - (SELECT count(*) FROM vec_{n}), 0)
        ),
        md_{n} AS (
            SELECT * EXCLUDE (mr) FROM (
                SELECT id, score AS ms, content, tags, importance, confidence,
                       timestamp,
                       row_number() OVER (
                           ORDER BY score DESC, importance DESC,
                                    timestamp DESC, id ASC) AS mr
                FROM (SELECT *, CAST({md_score} AS DOUBLE) AS score FROM me)
                WHERE score > 0
            ) WHERE mr <= {md_slots}
              AND id NOT IN (SELECT id FROM vec_{n})
              AND id NOT IN (SELECT id FROM kw_{n})
        ),
        cand_{n} AS (
            SELECT 'vector' AS match_type, * FROM vec_{n}
            UNION ALL SELECT 'keyword', * FROM kw_{n}
            UNION ALL SELECT 'metadata', * FROM md_{n}
        )"""
        final = (
            f"0.35 * (CASE WHEN match_type = 'vector' THEN ms ELSE 0.0 END) "
            f"+ 0.35 * (CASE WHEN match_type IN ('keyword', 'trending')"
            f" THEN least(1.0, ms) ELSE {_kw_fallback_sql(toks)} END) "
            f"+ 0.35 * (CASE WHEN match_type = 'metadata' THEN ms ELSE 0.0 END) "
            f"+ 0.2 * least(1.0, ({_tag_hits_sql(toks)}) / {float(len(toks))}) "
            f"+ {_W_IMP} * importance + {_W_CONF} * confidence + {_W_REC} * {_RECENCY}"
        )
        blocks.append(f"""
            SELECT '{qid}' AS query_id, id, match_type,
                   round(ms, 5) AS match_score, round(final, 5) AS final_score,
                   rank
            FROM (
                SELECT *, row_number() OVER (
                    ORDER BY final DESC, ms DESC, importance DESC,
                             timestamp DESC, id ASC) AS rank
                FROM (SELECT *, {final} AS final FROM cand_{n})
            ) WHERE rank <= {limit}
        """)
    return sql + "\nUNION ALL\n".join(blocks)


def _ann_ivf_oracle() -> str:
    cos_ec = _COS.format(a="e.embedding", b="c.cv")
    cos_cq = _COS.format(a="c.cv", b="q.qv")
    cos_eq = _COS.format(a="e.embedding", b="q.qv")
    return f"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cv FROM embeddings
            ORDER BY vec_id LIMIT 8
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {VECTOR_QUERY_VEC_ID}),
        assign AS (
            SELECT vec_id, cid AS cell FROM (
                SELECT e.vec_id AS vec_id, c.cid AS cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cos_ec} DESC, c.cid ASC
                       ) AS rn
                FROM embeddings e, cents c
            ) WHERE rn = 1
        ),
        probe AS (
            SELECT cid FROM (
                SELECT c.cid AS cid,
                       row_number() OVER (ORDER BY {cos_cq} DESC, c.cid ASC) AS rn
                FROM cents c, q
            ) WHERE rn <= 2
        )
        SELECT id, cell, round(sim, 5) AS sim FROM (
            SELECT a.vec_id AS id, a.cell AS cell, {cos_eq} AS sim
            FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id, q
            WHERE a.cell IN (SELECT cid FROM probe)
        )
        ORDER BY sim DESC, id ASC
        LIMIT 10
    """


def _current_state_oracle() -> str:
    """F8/J5: bounded scan pool -> state suppression + chain-head injection.
    Mirrors operators/state.py exactly (same tiebreaks), including the
    per-hop activity gating of the supersession walk: only edges with an
    ACTIVE target participate, so an inactive newest replacement falls back
    to the next-newest edge (recall.py:452-520)."""
    return (
        "WITH RECURSIVE "
        + MEMORIES_ORACLE_CTE
        + ", "
        + EDGES_ORACLE_CTE
        + f"""
        , results AS (
            SELECT id, round(importance, 6) AS final FROM memories
            WHERE id < 120 AND id % 2 = 0
        ),
        state AS (
            SELECT id,
                   CASE WHEN coalesce(archived, false) THEN 'archived'
                        WHEN t_valid IS NOT NULL AND t_valid > TIMESTAMP '{NOW}'
                             THEN 'not_yet_valid'
                        WHEN t_invalid IS NOT NULL AND t_invalid <= TIMESTAMP '{NOW}'
                             THEN 'expired'
                   END AS state_reason
            FROM memories
        ),
        sup AS (
            SELECT src AS cur, dst AS nxt FROM (
                SELECT e.src, e.dst, row_number() OVER (
                    PARTITION BY e.src ORDER BY e.updated_at_epoch DESC, e.dst DESC
                ) AS rn
                FROM edges e
                JOIN state s ON s.id = e.dst AND s.state_reason IS NULL
                WHERE e.rel_type IN ('INVALIDATED_BY', 'EVOLVED_INTO')
            ) WHERE rn = 1
        ),
        walk AS (
            SELECT cur AS start, cur AS head, 0 AS hops,
                   '|' || CAST(cur AS STRING) || '|' AS path
            FROM sup
            UNION ALL
            SELECT w.start, s.nxt, w.hops + 1,
                   w.path || CAST(s.nxt AS STRING) || '|'
            FROM walk w JOIN sup s ON s.cur = w.head
            WHERE w.hops < 5
              AND NOT contains(w.path, '|' || CAST(s.nxt AS STRING) || '|')
        ),
        active_heads AS (
            SELECT start AS id, head FROM (
                SELECT start, head, hops,
                       row_number() OVER (PARTITION BY start ORDER BY hops DESC) AS rn
                FROM walk
            ) WHERE rn = 1 AND hops > 0
        ),
        annotated AS (
            SELECT r.id AS id, r.final AS final, s.state_reason AS state_reason,
                   ah.head AS head,
                   coalesce(s.state_reason,
                            CASE WHEN ah.head IS NOT NULL THEN 'superseded' END) AS reason
            FROM results r
            LEFT JOIN state s ON s.id = r.id
            LEFT JOIN active_heads ah ON ah.id = r.id
        ),
        kept AS (
            SELECT id, 'scan' AS match_type, CAST(NULL AS BIGINT) AS state_replaces,
                   final
            FROM annotated WHERE reason IS NULL
        ),
        injected AS (
            SELECT id, match_type, state_replaces, final FROM (
                SELECT a.head AS id, 'state_replacement' AS match_type,
                       a.id AS state_replaces, a.final AS final,
                       row_number() OVER (
                           PARTITION BY a.head ORDER BY a.final DESC, a.id ASC
                       ) AS rn
                FROM annotated a
                WHERE a.reason IS NOT NULL AND a.head IS NOT NULL
                  AND a.head NOT IN (SELECT id FROM results)
            ) WHERE rn = 1
        ),
        unioned AS (SELECT * FROM kept UNION ALL SELECT * FROM injected)
        SELECT id, match_type, state_replaces, position,
               round(final, 6) AS final_score
        FROM (
            SELECT u.*, row_number() OVER (
                ORDER BY u.final DESC, m.importance DESC, m.timestamp DESC, u.id ASC
            ) AS position
            FROM unioned u LEFT JOIN memories m ON m.id = u.id
        )
    """
    )


def _recall_full_oracle() -> str:
    """The whole §3.1 chain, stage by stage, in one DuckDB query. Each CTE
    mirrors one stage of operators/recall.py::recall_full with identical
    tiebreaks."""
    ctx_bonus = (
        "(CASE WHEN len(list_filter("
        "[regexp_replace(lower(t), '[:/]+', ':', 'g') for t in tags], "
        "t -> t = 'lang:en' OR starts_with(t, 'lang:en') OR contains(t, 'lang:en')"
        ")) > 0 THEN 0.45 ELSE 0.0 END) "
        "+ (CASE WHEN (upper(substr(trim(type), 1, 1)) || lower(substr(trim(type), 2)))"
        " IN ('Decision') THEN 0.25 ELSE 0.0 END) "
        "+ (CASE WHEN id IN (7, 13) THEN 0.9 ELSE 0.0 END)"
    )
    ent_final = (
        f"0.35 * {_kw_fallback_sql(_KEYWORDS)} "
        f"+ 0.2 * least(1.0, ({_TAG_HITS}) / {float(len(_KEYWORDS))}) "
        f"+ {_W_IMP} * importance + {_W_CONF} * confidence + {_W_REC} * {_RECENCY} + 0.15"
    )
    return (
        "WITH RECURSIVE "
        + MEMORIES_ORACLE_CTE
        + ", "
        + EDGES_ORACLE_CTE
        + f"""
        , tagged AS (
            SELECT * REPLACE (
                CASE WHEN id % 7 < 3
                     THEN list_append(tags, 'entity:people:person-' || CAST(id % 7 AS STRING))
                     ELSE tags END AS tags)
            FROM memories
        ),
        seeds AS (
            SELECT id, 'keyword' AS match_type, match_score, tags,
                   {_HYBRID} + {ctx_bonus} AS final
            FROM (
                SELECT *, least(1.0, raw_score / {float(_MAX_RAW)}) AS match_score
                FROM (
                    SELECT *, CAST({_KW_SCORE} AS DOUBLE) AS raw_score
                    FROM tagged WHERE NOT archived AND type != 'MetaPattern'
                )
                WHERE raw_score > 0
                ORDER BY raw_score DESC, importance DESC, timestamp DESC, id ASC
                LIMIT 20
            )
        ),
        rel0 AS (
            SELECT s.id AS seed_id, e.dst AS dst, e.rel_type AS rel_type,
                   e.strength + 0.25 * s.final AS relation_score
            FROM seeds s
            JOIN (
                SELECT src, dst, rel_type, {_STRENGTH} AS strength FROM edges
                UNION ALL
                SELECT dst, src, rel_type, {_STRENGTH} FROM edges
            ) e ON e.src = s.id
            JOIN tagged m ON m.id = e.dst
            WHERE e.strength >= 0.0
              AND NOT coalesce(m.archived, false)
              AND m.type != 'MetaPattern'
              AND m.importance >= 0.0
              AND e.dst != s.id
              AND e.dst NOT IN (SELECT id FROM seeds)
        ),
        rel AS (
            SELECT dst, relation_score FROM (
                SELECT *, row_number() OVER (
                    ORDER BY relation_score DESC, seed_id ASC, dst ASC, rel_type ASC
                ) AS gr
                FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY seed_id
                        ORDER BY relation_score DESC, dst ASC, rel_type ASC
                    ) AS pr FROM rel0
                ) WHERE pr <= 5
            ) WHERE gr <= 25
        ),
        slugs AS (
            SELECT DISTINCT string_split(t, ':')[-1] AS slug
            FROM (SELECT unnest(s.tags) AS t FROM seeds s)
            WHERE starts_with(t, 'entity:people:')
            ORDER BY slug LIMIT 5
        ),
        ent_cand AS (
            SELECT m.*, s.slug FROM tagged m CROSS JOIN slugs s
            WHERE len(list_filter(m.tags, t ->
                    starts_with(t, 'entity:people:' || s.slug))) > 0
              AND m.id NOT IN (SELECT id FROM seeds)
        ),
        ent_dd AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY id ORDER BY slug ASC) AS ir
                FROM (
                    SELECT * FROM (
                        SELECT *, row_number() OVER (
                            PARTITION BY slug ORDER BY importance DESC, id ASC) AS er
                        FROM ent_cand
                    ) WHERE er <= 5
                )
            ) WHERE ir = 1
        ),
        ent AS (
            SELECT id, {ent_final} AS final FROM ent_dd
            ORDER BY final DESC, id ASC
            LIMIT 25
        ),
        cand0 AS (
            SELECT id, match_type, match_score, final, 3 AS prio FROM seeds
            UNION ALL
            SELECT dst, 'relation', 0.0, relation_score, 2 FROM rel
            UNION ALL
            SELECT id, 'entity_expansion', 0.0, final, 1 FROM ent
        ),
        cand AS (
            SELECT id, match_type, match_score, final FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY id ORDER BY prio DESC, final DESC, match_type ASC
                ) AS rn FROM cand0
            ) WHERE rn = 1
        ),
        state AS (
            SELECT id,
                   CASE WHEN coalesce(archived, false) THEN 'archived'
                        WHEN t_valid IS NOT NULL AND t_valid > TIMESTAMP '{NOW}'
                             THEN 'not_yet_valid'
                        WHEN t_invalid IS NOT NULL AND t_invalid <= TIMESTAMP '{NOW}'
                             THEN 'expired'
                   END AS state_reason
            FROM memories
        ),
        sup AS (
            SELECT src AS cur, dst AS nxt FROM (
                SELECT e.src, e.dst, row_number() OVER (
                    PARTITION BY e.src ORDER BY e.updated_at_epoch DESC, e.dst DESC
                ) AS rn
                FROM edges e
                JOIN state s ON s.id = e.dst AND s.state_reason IS NULL
                WHERE e.rel_type IN ('INVALIDATED_BY', 'EVOLVED_INTO')
            ) WHERE rn = 1
        ),
        walk AS (
            SELECT cur AS start, cur AS head, 0 AS hops,
                   '|' || CAST(cur AS STRING) || '|' AS path
            FROM sup
            UNION ALL
            SELECT w.start, s.nxt, w.hops + 1,
                   w.path || CAST(s.nxt AS STRING) || '|'
            FROM walk w JOIN sup s ON s.cur = w.head
            WHERE w.hops < 5
              AND NOT contains(w.path, '|' || CAST(s.nxt AS STRING) || '|')
        ),
        active_heads AS (
            SELECT start AS id, head FROM (
                SELECT start, head, hops,
                       row_number() OVER (PARTITION BY start ORDER BY hops DESC) AS rn
                FROM walk
            ) WHERE rn = 1 AND hops > 0
        ),
        annotated AS (
            SELECT r.*, s.state_reason, ah.head,
                   coalesce(s.state_reason,
                            CASE WHEN ah.head IS NOT NULL THEN 'superseded' END) AS reason
            FROM cand r
            LEFT JOIN state s ON s.id = r.id
            LEFT JOIN active_heads ah ON ah.id = r.id
        ),
        kept AS (
            SELECT id, match_type, match_score, final
            FROM annotated WHERE reason IS NULL
        ),
        inj AS (
            SELECT id, match_type, match_score, final FROM (
                SELECT a.head AS id, 'state_replacement' AS match_type,
                       0.0 AS match_score, a.final AS final,
                       row_number() OVER (
                           PARTITION BY a.head ORDER BY a.final DESC, a.id ASC
                       ) AS rn
                FROM annotated a
                WHERE a.reason IS NOT NULL AND a.head IS NOT NULL
                  AND a.head NOT IN (SELECT id FROM cand)
            ) WHERE rn = 1
        ),
        after_state AS (SELECT * FROM kept UNION ALL SELECT * FROM inj),
        hyd AS (
            SELECT a.*, m.importance, m.timestamp, epoch(m.timestamp) AS ep
            FROM after_state a JOIN memories m ON m.id = a.id
        ),
        rec AS (
            SELECT id, match_type, match_score, importance, timestamp,
                   final + 0.1 * (CASE WHEN tmax > tmin
                                       THEN (ep - tmin) / (tmax - tmin)
                                       ELSE 0.0 END) AS final
            FROM (SELECT *, min(ep) OVER () AS tmin, max(ep) OVER () AS tmax FROM hyd)
        ),
        ranked AS (
            SELECT *, row_number() OVER (ORDER BY final DESC, id ASC) AS rn,
                   count(*) OVER () AS n, max(final) OVER () AS top,
                   lag(final) OVER (ORDER BY final DESC, id ASC) - final AS gap
            FROM rec
        ),
        fcands AS (
            SELECT *, CASE WHEN rn >= 2 AND rn <= greatest(3, n // 2) AND gap > 0
                           THEN gap END AS cand_gap
            FROM ranked
        ),
        mg AS (SELECT *, max(cand_gap) OVER () AS max_gap FROM fcands),
        gr AS (SELECT *, min(CASE WHEN cand_gap = max_gap THEN rn END) OVER () AS gap_rank FROM mg),
        fl AS (SELECT *, max(CASE WHEN rn = gap_rank THEN final END) OVER () AS floor_v FROM gr),
        rt AS (SELECT *, sum(CASE WHEN final >= floor_v THEN 1 ELSE 0 END) OVER () AS retained FROM fl),
        floored AS (
            SELECT id, match_type, match_score, importance, timestamp, final FROM rt
            WHERE NOT coalesce(n > 3 AND max_gap IS NOT NULL AND max_gap > 0.25 * top
                               AND retained >= (n + 1) // 2, false)
               OR final >= floor_v
        ),
        pri AS (
            SELECT id, 'priority_id' AS match_type, 0.0 AS match_score,
                   importance, timestamp, 0.0 AS final
            FROM memories
            WHERE id IN (7, 13) AND NOT coalesce(archived, false)
              AND id NOT IN (SELECT id FROM floored)
        ),
        allr AS (SELECT * FROM floored UNION ALL SELECT * FROM pri)
        SELECT id, match_type, position, round(final, 6) AS final_score FROM (
            SELECT *, row_number() OVER (
                ORDER BY (CASE WHEN id IN (7, 13) THEN 1 ELSE 0 END) DESC,
                         final DESC, match_score DESC, importance DESC,
                         timestamp DESC, id ASC
            ) AS position FROM allr
        ) WHERE position <= 20
    """
    )


def _consolidation_run_oracle(d: dict[str, str]) -> str:
    """ST5: the composed run report — due flags mirror the fixture schedule
    (the decision logic itself is unit-tested driver Python), pass stats
    wrap the already-verified per-pass oracles as subqueries."""
    return f"""
        SELECT 'decay' AS task, 'due' AS metric, 1.0 AS value
        UNION ALL SELECT 'creative', 'due', 1.0
        UNION ALL SELECT 'cluster', 'due', 0.0
        UNION ALL SELECT 'forget', 'due', 0.0
        UNION ALL SELECT 'identity', 'due', 1.0
        UNION ALL SELECT 'decay', 'processed', CAST(processed AS DOUBLE)
                  FROM ({d["decay_stats"]})
        UNION ALL SELECT 'decay', 'avg_relevance_after', avg_relevance_after
                  FROM ({d["decay_stats"]})
        UNION ALL SELECT 'creative', 'n_pairs', CAST(count(*) AS DOUBLE)
                  FROM ({d["creative_pairs"]})
        UNION ALL SELECT 'creative', 'n_discovered',
                  CAST(coalesce(sum(CASE WHEN rel_type = 'DISCOVERED' THEN 1 ELSE 0 END), 0) AS DOUBLE)
                  FROM ({d["creative_pairs"]})
        UNION ALL SELECT 'identity', 'n_candidates', CAST(count(*) AS DOUBLE)
                  FROM ({d["entity_dedup"]})
        UNION ALL SELECT 'identity', 'n_auto',
                  CAST(coalesce(sum(CASE WHEN bucket = 'auto' THEN 1 ELSE 0 END), 0) AS DOUBLE)
                  FROM ({d["entity_dedup"]})
    """


def _training_pipeline_oracle(doc_pred: str = "TRUE") -> str:
    """`doc_pred` restricts the base corpus on the oracle side exactly like
    `_training_pipeline_df(part=...)` does on the Spark side — the sf3
    sweep verifies the pipeline as n resumable sub-corpus runs."""
    lang_hits, lang_case = _lang_case()
    return f"""
            WITH p AS (
                SELECT doc_id, text ||
                  CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
                  CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
                  CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END ||
                  CASE WHEN doc_id % 17 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                  AS t
                FROM documents WHERE {doc_pred}
            ),
            s1 AS (SELECT doc_id, regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS t FROM p),
            s2 AS (SELECT doc_id, regexp_replace(t, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g') AS t FROM s1),
            s3 AS (SELECT doc_id, regexp_replace(t, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g') AS t FROM s2),
            s4 AS (SELECT doc_id, regexp_replace(t, '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b', '<PHONE>', 'g') AS t FROM s3),
            cs AS (SELECT s4.doc_id, s4.t AS text, d.source FROM s4 JOIN documents d USING (doc_id)),
            w AS (SELECT *, {_WORDS.format(col='text')} AS ws FROM cs),
            h AS (SELECT *, {lang_hits} FROM w),
            q AS (
                SELECT *, {lang_case} AS detected,
                       round(
                     0.25 * least(1.0, len(ws) / 100.0)
                     + 0.25 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                               / greatest(length(text), 1))
                     + 0.25 * least(1.0, ({_LANG_HITS['en']}) / 5.0)
                     + 0.25 * (1.0 - least(1.0, length(regexp_replace(text, '[\\w\\s]', '', 'g'))
                                                / greatest(length(text), 1) * 5.0)),
                     6) AS quality
                FROM h
            ),
            g AS (SELECT * FROM q WHERE detected = 'en' AND quality >= 0.4),
            tr AS (SELECT * FROM g WHERE NOT (doc_id % 10 = 0 AND doc_id < 100)),
            ew AS (SELECT doc_id, {_WORDS.format(col='text')} AS ws FROM documents
                   WHERE doc_id % 10 = 0 AND doc_id < 100 AND ({doc_pred})),
            esh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM ew),
            ev AS (SELECT DISTINCT ng FROM (SELECT unnest(shingles) AS ng FROM esh)),
            tsh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM tr),
            hits AS (SELECT DISTINCT doc_id FROM
                     (SELECT doc_id, unnest(shingles) AS ng FROM tsh) JOIN ev USING (ng)),
            dc AS (SELECT * FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
            k AS (SELECT *, min(doc_id) OVER (
                    PARTITION BY trim(regexp_replace(regexp_replace(lower(text),
                        '[^\\w\\s]', ' ', 'g'), '\\s+', ' ', 'g'))
                  ) AS keeper FROM dc),
            kd AS (SELECT * FROM k WHERE doc_id = keeper),
            sm AS (SELECT *,
                       ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket
                   FROM kd
                   WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 <
                         CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 8000
                                     WHEN 'src2' THEN 5000 WHEN 'src3' THEN 2500 ELSE 0 END),
            pk AS (SELECT doc_id, source, quality, len(ws) AS n_tokens,
                          bucket % 4 AS shard
                   FROM sm),
            o AS (SELECT *, coalesce(sum(n_tokens) OVER (
                      PARTITION BY source, shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_off
                  FROM pk)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   count(DISTINCT [shard, tok_off // 512]) AS n_windows,
                   round(sum(CAST(round(quality * 1000000) AS BIGINT)) * 1.0 / count(*) / 1000000, 6) AS avg_quality
            FROM o GROUP BY source
        """


def _semantic_decontaminate_oracle(train_pred: str = "TRUE") -> str:
    """`train_pred` restricts the train side like
    `_semantic_decontaminate_df(part=...)` — per-item verdicts are
    independent, so the restricted oracle is an exact sub-check."""
    return f"""
            WITH ev AS (
                SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 = 0
            ),
            tr AS (
                SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % 97 != 0 AND ({train_pred})
            ),
            m AS (
                SELECT t.vec_id,
                       max({_COS.format(a='t.embedding', b='e.embedding')}) AS mx
                FROM tr t CROSS JOIN ev e GROUP BY 1
            )
            SELECT vec_id,
                   floor(mx * 1000000.0 + 0.5) / 1000000.0 AS max_eval_cos,
                   mx >= 0.35 AS contaminated
            FROM m
        """


# Rows too expensive for ONE sf3 sweep chunk, decomposed into resumable
# residue-class sub-checks: name -> part count (scripts/sf_sweep.py runs
# sweep_part(name, k, n) for k in range(n) and records per-part status).
SWEEP_PARTS: dict[str, int] = {
    "semantic_decontaminate": 8,
    "training_pipeline": 6,
}


def sweep_part(name: str, k: int, n: int):
    """(spark_fn, oracle_sql) for sub-check k of n of a SWEEP_PARTS row."""
    if name == "semantic_decontaminate":
        return (
            lambda spark, sf_dir: _semantic_decontaminate_df(
                spark, sf_dir, part=(k, n)
            ),
            _semantic_decontaminate_oracle(f"vec_id % {n} = {k}"),
        )
    if name == "training_pipeline":
        return (
            lambda spark, sf_dir: _training_pipeline_df(spark, sf_dir, part=(k, n)),
            _training_pipeline_oracle(f"doc_id % {n} = {k}"),
        )
    raise KeyError(f"{name} is not a SWEEP_PARTS row")


def oracle_sql() -> dict[str, str]:
    lang_hits, lang_case = _lang_case()
    mem = "WITH " + MEMORIES_ORACLE_CTE
    memedges = "WITH " + MEMORIES_ORACLE_CTE + ", " + EDGES_ORACLE_CTE
    memedges_rec = "WITH RECURSIVE " + MEMORIES_ORACLE_CTE + ", " + EDGES_ORACLE_CTE
    d = {
        "bucketed_join": """
            WITH m AS (SELECT doc_id AS id, source FROM documents),
            e AS (SELECT doc_id AS src, (doc_id * 7 + 3) % 500 AS id
                  FROM documents)
            SELECT source, count(*) AS n_refs,
                   count(DISTINCT id) AS n_targets
            FROM m JOIN e USING (id)
            GROUP BY source
        """,
        "events_partitioned": """
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
                   count(*) AS n,
                   round(sum(CAST(round(value * 1e6, 0) AS BIGINT)) / 1e6, 6)
                       AS total_value
            FROM events
            WHERE CAST(ts AS DATE) BETWEEN '2024-01-03' AND '2024-01-09'
            GROUP BY 1, 2
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   floor((sum(CAST(round((l_quantity) * 1e6, 0) AS BIGINT)) / 1e6) * 100.0 + 0.5) / 100.0 AS sum_qty,
                   floor((sum(CAST(round((l_extendedprice) * 1e6, 0) AS BIGINT)) / 1e6) * 100.0 + 0.5) / 100.0 AS sum_base_price,
                   floor((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1e6, 0) AS BIGINT)) / 1e6) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
                   floor(((sum(CAST(round((l_quantity) * 1e6, 0) AS BIGINT)) / count(*)) / 1e6) * 1000000.0 + 0.5) / 1000000.0 AS avg_qty,
                   floor(((sum(CAST(round((l_extendedprice) * 1e6, 0) AS BIGINT)) / count(*)) / 1e6) * 1000000.0 + 0.5) / 1000000.0 AS avg_price,
                   floor(((sum(CAST(round((l_discount) * 1e6, 0) AS BIGINT)) / count(*)) / 1e6) * 1000000.0 + 0.5) / 1000000.0 AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_revenue_orders": """
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
                   floor((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1e6, 0) AS BIGINT)) / 1e6) * 100.0 + 0.5) / 100.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_date
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "nation_revenue": """
            SELECT n_name, r_name,
                   floor((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1e6, 0) AS BIGINT)) / 1e6) * 100.0 + 0.5) / 100.0 AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name, r_name
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, total, rank FROM (
                SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY round(o_totalprice, 2) DESC, o_orderkey ASC) AS rank
                FROM orders
            ) WHERE rank <= 3
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        """,
        "order_priority_stats": """
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   floor(((sum(CAST(round((o_totalprice) * 1e6, 0) AS BIGINT)) / count(*)) / 1e6) * 1000000.0 + 0.5) / 1000000.0 AS avg_price,
                   CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
                   CAST(sum(CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_large
            FROM orders GROUP BY o_orderpriority
        """,
        "events_hourly": """
            SELECT extract(hour FROM ts) AS hour, count(*) AS n,
                   floor(((sum(CAST(round((value) * 1e6, 0) AS BIGINT)) / count(*)) / 1e6) * 1000000.0 + 0.5) / 1000000.0 AS avg_value
            FROM events GROUP BY hour
        """,
        "corpus_quantiles": f"""
            WITH w AS (
                SELECT source, n_chars,
                       CAST(len({_WORDS.format(col='text')}) AS DOUBLE) AS nt
                FROM documents
            )
            SELECT source, count(*) AS n_docs,
                   round(quantile_cont(n_chars, 0.5), 6) AS chars_p50,
                   round(quantile_cont(n_chars, 0.9), 6) AS chars_p90,
                   round(quantile_cont(n_chars, 0.99), 6) AS chars_p99,
                   round(quantile_cont(nt, 0.5), 6) AS tokens_p50,
                   round(quantile_cont(nt, 0.9), 6) AS tokens_p90
            FROM w GROUP BY source
        """,
        "user_sessions": """
            WITH ordered AS (
                SELECT user_id, event_id, event_type, ts,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
            ),
            flagged AS (
                SELECT *, CASE WHEN prev_ts IS NULL
                               OR floor(epoch(ts)) - floor(epoch(prev_ts))
                                  > 1800
                               THEN 1 ELSE 0 END AS is_start
                FROM ordered
            ),
            numbered AS (
                -- CAST: DuckDB windowed SUM over integers is HUGEINT, which
                -- pandas coerces to float64 and the driver's dtype-sensitive
                -- hash then diverges from Spark's int64 (r6 red row).
                SELECT *, CAST(SUM(is_start) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
                FROM flagged
            )
            SELECT user_id, session_idx,
                   CAST(min(floor(epoch(ts))) AS BIGINT) AS start_epoch,
                   CAST(max(floor(epoch(ts))) AS BIGINT) AS end_epoch,
                   CAST(max(floor(epoch(ts))) - min(floor(epoch(ts)))
                        AS BIGINT) AS duration_sec,
                   count(*) AS n_events,
                   count(DISTINCT event_type) AS n_types
            FROM numbered GROUP BY user_id, session_idx
        """,
        "salted_event_stats": """
            SELECT event_type, count(*) AS n,
                   round(sum(CAST(round(value * 1e6, 0) AS BIGINT)) / 1e6, 6)
                       AS total_value,
                   round(min(CAST(round(value * 1e6, 0) AS BIGINT)) / 1e6, 6)
                       AS min_value,
                   round(max(CAST(round(value * 1e6, 0) AS BIGINT)) / 1e6, 6)
                       AS max_value
            FROM events GROUP BY event_type
        """,
        "event_type_stats": """
            SELECT event_type, count(*) AS n,
                   floor(((sum(CAST(round((value) * 1e6, 0) AS BIGINT)) / count(*)) / 1e6) * 1000000.0 + 0.5) / 1000000.0 AS avg_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "event_value_buckets": """
            SELECT CASE WHEN value < 25 THEN 'low'
                        WHEN value < 100 THEN 'medium'
                        ELSE 'high' END AS bucket,
                   count(*) AS n,
                   floor((sum(CAST(round((value) * 1e6, 0) AS BIGINT)) / 1e6) * 100.0 + 0.5) / 100.0 AS total_value
            FROM events GROUP BY bucket
        """,
        "preceded_by_events": """
            SELECT user_id, id, preceded_by, rank FROM (
                SELECT e.user_id AS user_id, e.event_id AS id,
                       p.event_id AS preceded_by,
                       row_number() OVER (PARTITION BY e.event_id
                                          ORDER BY p.ts DESC, p.event_id ASC) AS rank
                FROM events e
                JOIN events p ON e.user_id = p.user_id
                 AND p.ts < e.ts
                 AND p.ts >= e.ts - INTERVAL 168 HOURS
                 AND e.event_id != p.event_id
            ) WHERE rank <= 3
        """,
        "relations_fetch": memedges + f"""
            SELECT src, dst, rel_type, round(strength, 6) AS strength, rank FROM (
                SELECT e.src AS src, e.dst AS dst,
                       {_canon_rel('e.')} AS rel_type,
                       {_strength('e.')} AS strength,
                       row_number() OVER (
                           PARTITION BY e.src
                           ORDER BY coalesce(CAST(e.updated_at_epoch AS DOUBLE),
                                             epoch(m.timestamp)) DESC,
                                    e.dst ASC, {_canon_rel('e.')} ASC
                       ) AS rank
                FROM edges e JOIN memories m ON m.id = e.dst
            ) WHERE rank <= 5
        """,
        "relation_expansion": memedges + f"""
            , seeds AS (
                SELECT id, importance AS seed_score FROM ({_POOL})
                ORDER BY importance DESC, timestamp DESC, id ASC LIMIT 10
            ),
            und AS (
                SELECT src, dst, rel_type, {_STRENGTH} AS strength FROM edges
                UNION ALL
                SELECT dst, src, rel_type, {_STRENGTH} AS strength FROM edges
            ),
            hops AS (
                SELECT s.id AS seed_id, u.dst AS dst, u.rel_type AS rel_type,
                       u.strength AS strength,
                       u.strength + 0.25 * s.seed_score AS relation_score
                FROM seeds s
                JOIN und u ON u.src = s.id
                JOIN memories m ON m.id = u.dst
                WHERE NOT coalesce(m.archived, false) AND m.type != 'MetaPattern'
                  AND m.importance >= 0.0 AND u.dst != s.id
                  AND u.dst NOT IN (SELECT id FROM seeds)
                  AND u.strength >= 0.0
            ),
            per AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY seed_id
                        ORDER BY relation_score DESC, dst ASC, rel_type ASC
                    ) AS rn FROM hops
                ) WHERE rn <= 5
            )
            SELECT seed_id, dst, rel_type, round(strength, 6) AS strength,
                   round(relation_score, 6) AS relation_score
            FROM per
            ORDER BY relation_score DESC, seed_id ASC, dst ASC, rel_type ASC
            LIMIT 25
        """,
        "supersession_heads": memedges_rec + """
            , sup AS (
                SELECT src AS cur, dst AS nxt FROM (
                    SELECT src, dst, row_number() OVER (
                        PARTITION BY src ORDER BY updated_at_epoch DESC, dst DESC
                    ) AS rn
                    FROM edges WHERE rel_type IN ('INVALIDATED_BY', 'EVOLVED_INTO')
                ) WHERE rn = 1
            ),
            walk AS (
                SELECT cur AS start, cur AS head, 0 AS hops,
                       '|' || CAST(cur AS STRING) || '|' AS path
                FROM sup
                UNION ALL
                SELECT w.start, s.nxt, w.hops + 1,
                       w.path || CAST(s.nxt AS STRING) || '|'
                FROM walk w JOIN sup s ON s.cur = w.head
                WHERE w.hops < 5
                  AND NOT contains(w.path, '|' || CAST(s.nxt AS STRING) || '|')
            )
            SELECT start, head, hops FROM (
                SELECT start, head, hops,
                       row_number() OVER (PARTITION BY start ORDER BY hops DESC) AS rn
                FROM walk
            ) WHERE rn = 1 AND hops > 0
        """,
        "related_bfs": memedges_rec + """
            , und AS (
                SELECT DISTINCT a, b FROM (
                    SELECT src AS a, dst AS b FROM edges
                    UNION ALL
                    SELECT dst AS a, src AS b FROM edges
                )
            ),
            walk AS (
                SELECT CAST(id AS BIGINT) AS id, 0 AS depth
                FROM (VALUES (0), (5), (10)) v(id)
                UNION ALL
                SELECT u.b AS id, w.depth + 1 FROM walk w
                JOIN und u ON u.a = w.id WHERE w.depth < 3
            ),
            reached AS (SELECT id, min(depth) AS depth FROM walk GROUP BY id)
            SELECT r.id AS id, r.depth AS depth,
                   round(m.importance, 6) AS importance
            FROM reached r JOIN memories m ON m.id = r.id
            WHERE r.depth > 0
            ORDER BY m.importance DESC, m.timestamp DESC, r.id ASC
            LIMIT 200
        """,
        "connected_components": f"""
            WITH RECURSIVE nodes AS (
                SELECT vec_id FROM embeddings WHERE vec_id < 150
            ),
            pairs AS (
                SELECT a.vec_id AS src, b.vec_id AS dst
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                WHERE a.vec_id < 150 AND b.vec_id < 150
                  AND {_COS.format(a='a.embedding', b='b.embedding')} >= 0.25
            ),
            und AS (
                SELECT src AS a, dst AS b FROM pairs
                UNION
                SELECT dst AS a, src AS b FROM pairs
            ),
            reach AS (
                SELECT vec_id AS a, vec_id AS b FROM nodes
                UNION
                SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b
            )
            SELECT a AS id, min(b) AS component FROM reach GROUP BY a
        """,
        "preference_ranking": memedges + f"""
            SELECT src, dst, round({_STRENGTH}, 6) AS strength
            FROM edges WHERE rel_type = 'PREFERS_OVER'
            ORDER BY strength DESC, src ASC, dst ASC
            LIMIT 10
        """,
        "graph_stats": memedges + f"""
            SELECT {_CANON_REL} AS rel_type, count(*) AS n,
                   {_US_MEAN_SQL(_STRENGTH)} AS avg_strength
            FROM edges GROUP BY 1
        """,
        "graph_snapshot": memedges + f"""
            , nodes AS (
                SELECT id, importance, confidence FROM (
                    SELECT id, importance, confidence,
                           row_number() OVER (
                               ORDER BY importance DESC, timestamp DESC, id ASC
                           ) AS rn
                    FROM memories
                    WHERE importance >= 0.2
                      AND type IN ('Decision', 'Pattern', 'Preference', 'Insight')
                      AND timestamp >= TIMESTAMP '2026-02-01 00:00:00'
                ) WHERE rn <= 120
            )
            SELECT e.src AS source, e.dst AS target,
                   {_canon_rel('e.')} AS rel_type,
                   round(coalesce(e.strength, 0.5), 6) AS strength,
                   round(0.5 + a.importance * 1.5, 6) AS src_radius,
                   round(0.4 + b.confidence * 0.6, 6) AS tgt_opacity
            FROM edges e
            JOIN nodes a ON a.id = e.src
            JOIN nodes b ON b.id = e.dst
        """,
        "graph_neighbors": f"""
            WITH RECURSIVE {MEMORIES_ORACLE_CTE.strip()}, {EDGES_ORACLE_CTE},
            und AS (
                SELECT DISTINCT a, b FROM (
                    SELECT src AS a, dst AS b FROM edges
                    UNION ALL
                    SELECT dst AS a, src AS b FROM edges
                )
            ),
            walk AS (
                SELECT CAST(5 AS BIGINT) AS id, 0 AS depth
                UNION ALL
                SELECT u.b AS id, w.depth + 1 FROM walk w
                JOIN und u ON u.a = w.id WHERE w.depth < 2
            ),
            reached AS (SELECT id, min(depth) AS depth FROM walk GROUP BY id),
            glim AS (
                SELECT id, depth, importance FROM (
                    SELECT r.id AS id, r.depth AS depth,
                           round(m.importance, 6) AS importance,
                           row_number() OVER (
                               ORDER BY m.importance DESC, m.timestamp DESC, r.id ASC
                           ) AS rn
                    FROM reached r JOIN memories m ON m.id = r.id
                    WHERE r.depth > 0
                ) WHERE rn <= 100
            ),
            sem0 AS (
                SELECT e.vec_id AS id,
                       {_COS.format(a='e.embedding', b='q.embedding')} AS sim
                FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 5) q
                ORDER BY sim DESC, e.vec_id ASC
                LIMIT 6
            )
            SELECT id, 'graph' AS source, CAST(depth AS BIGINT) AS depth,
                   -1.0 AS sim, importance
            FROM glim
            UNION ALL
            SELECT s.id AS id, 'semantic' AS source, CAST(-1 AS BIGINT) AS depth,
                   round(s.sim, 5) AS sim, round(m.importance, 6) AS importance
            FROM sem0 s JOIN memories m ON m.id = s.id
            WHERE s.id != 5 AND s.id NOT IN (SELECT id FROM glim)
        """,
        "sync_drift": memedges + """
            SELECT src, dst, rel_type FROM edges
            WHERE dst NOT IN (
                SELECT id FROM memories WHERE NOT coalesce(archived, false)
            )
        """,
        "tag_prefix_scan": mem + """
            SELECT id, round(importance, 6) AS importance, type
            FROM memories
            WHERE len(list_filter([replace(lower(t), '/', ':') for t in tags],
                                  t -> starts_with(t, 'lang:en'))) > 0
            ORDER BY importance DESC, id ASC
            LIMIT 20
        """,
        "keyword_search": mem + f"""
            SELECT id, round(least(1.0, raw_score / {float(_MAX_RAW)}), 6) AS match_score,
                   type, round(importance, 6) AS importance
            FROM (
                SELECT *, CAST({_KW_SCORE} AS DOUBLE) AS raw_score
                FROM ({_POOL})
            )
            WHERE raw_score > 0
            ORDER BY raw_score DESC, importance DESC, timestamp DESC, id ASC
            LIMIT 20
        """,
        "trending": mem + f"""
            SELECT id, round(importance, 6) AS importance, type
            FROM ({_POOL})
            ORDER BY importance DESC, timestamp DESC, id ASC
            LIMIT 10
        """,
        "hybrid_recall": mem + f"""
            SELECT id, 'keyword' AS match_type,
                   round(least(1.0, raw_score / {float(_MAX_RAW)}), 6) AS match_score,
                   round({_HYBRID}, 6) AS final_score
            FROM (
                SELECT *, least(1.0, CAST({_KW_SCORE} AS DOUBLE) / {float(_MAX_RAW)}) AS match_score,
                       CAST({_KW_SCORE} AS DOUBLE) AS raw_score
                FROM ({_POOL})
                WHERE CAST({_KW_SCORE} AS DOUBLE) > 0
                ORDER BY raw_score DESC, importance DESC, timestamp DESC, id ASC
                LIMIT 10
            )
            ORDER BY round({_HYBRID}, 6) DESC, match_score DESC, importance DESC, timestamp DESC, id ASC
            LIMIT 10
        """,
        "sync_repair": mem + """
            SELECT id, 'reembed' AS action, substring(content, 1, 30) AS head
            FROM memories
            WHERE NOT coalesce(archived, false)
              AND coalesce(type, '') != 'MetaPattern'
              AND id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 5 != 0)
        """,
        "reembed_batch": mem + """
            SELECT id, CAST(64 AS BIGINT) AS dim, 1 AS has_norm
            FROM memories
            WHERE NOT coalesce(archived, false)
              AND coalesce(type, '') != 'MetaPattern'
              AND id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 5 != 0)
        """,
        "recall_touch": _recall_touch_oracle(),
        "result_hydration": _result_hydration_oracle(),
        "gated_recall": _gated_recall_oracle(),
        "event_cube": """
            WITH b AS (
                SELECT event_type,
                       CASE WHEN value < 25 THEN 'low'
                            WHEN value < 100 THEN 'medium'
                            ELSE 'high' END AS bucket,
                       value
                FROM events
            )
            SELECT coalesce(event_type, '(all)') AS event_type,
                   coalesce(bucket, '(all)') AS bucket,
                   count(*) AS n,
                   floor((sum(CAST(round((value) * 1e6, 0) AS BIGINT)) / 1e6) * 100.0 + 0.5) / 100.0 AS total_value
            FROM b GROUP BY CUBE (event_type, bucket)
        """,
        "tag_scroll": mem + """
            SELECT id, rank, type FROM (
                SELECT id, type,
                       CAST(row_number() OVER (ORDER BY id ASC) AS BIGINT) AS rank
                FROM memories
                WHERE len(list_filter([replace(lower(t), '/', ':') for t in tags],
                                      t -> starts_with(t, 'source:src1'))) > 0
            ) WHERE rank > 50 AND rank <= 100
        """,
        "associations_create": _associations_create_oracle(),
        "time_browse": mem + f"""
            , tb_pool AS (
                SELECT * FROM ({_POOL})
                WHERE timestamp >= TIMESTAMP '2026-02-01 00:00:00'
                  AND timestamp <= TIMESTAMP '2026-04-15 00:00:00'
                  AND len(list_filter([replace(lower(t), '/', ':') for t in tags],
                                      t -> t = 'lang:de' OR starts_with(t, 'lang:de'))) = 0
            ),
            tb_trend AS (
                SELECT * FROM tb_pool
                ORDER BY importance DESC, timestamp DESC, id ASC LIMIT 25
            )
            SELECT id,
                   CAST(row_number() OVER (ORDER BY timestamp DESC, id ASC) AS BIGINT) AS rank,
                   strftime(timestamp, '%Y-%m-%d') AS day
            FROM tb_trend
        """,
        "min_score_recall": mem + f"""
            SELECT id, 'keyword' AS match_type,
                   round(least(1.0, raw_score / {float(_MAX_RAW)}), 6) AS match_score,
                   round({_HYBRID}, 6) AS final_score
            FROM (
                SELECT *, least(1.0, CAST({_KW_SCORE} AS DOUBLE) / {float(_MAX_RAW)}) AS match_score,
                       CAST({_KW_SCORE} AS DOUBLE) AS raw_score
                FROM ({_POOL})
                WHERE CAST({_KW_SCORE} AS DOUBLE) > 0
                ORDER BY raw_score DESC, importance DESC, timestamp DESC, id ASC
                LIMIT 10
            )
            WHERE {_HYBRID} >= {MIN_SCORE_FLOOR}
            ORDER BY round({_HYBRID}, 6) DESC, match_score DESC, importance DESC, timestamp DESC, id ASC
            LIMIT 10
        """,
        "type_normalize": _type_normalize_oracle(),
        "decay_stats": mem + f"""
            , ds AS (
                SELECT least(
                    greatest(
                        exp(-0.01 * greatest((epoch(TIMESTAMP '{NOW}') - epoch(timestamp)) / 86400.0, 0.0))
                        * (0.3 + 0.3 * (CASE WHEN greatest((epoch(TIMESTAMP '{NOW}') - epoch(timestamp)) / 86400.0, 0.0) < 1.0
                                             THEN 1.0
                                             ELSE exp(-0.05 * greatest((epoch(TIMESTAMP '{NOW}') - epoch(timestamp)) / 86400.0, 0.0)) END))
                        * (1.0 + 0.3 * ln(1.0 + (n_chars % 10)))
                        * (0.5 + importance)
                        * (0.7 + 0.3 * confidence),
                        importance * 0.3
                    ),
                    1.0
                ) AS r
                FROM memories WHERE NOT coalesce(archived, false)
            )
            SELECT count(*) AS processed,
                   {_US_MEAN_SQL('0.5')} AS avg_relevance_before,
                   {_US_MEAN_SQL('r')} AS avg_relevance_after,
                   CAST(sum(CASE WHEN r > 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
                   CAST(sum(CASE WHEN r > 0.3 AND r <= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
                   CAST(sum(CASE WHEN r > 0.1 AND r <= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                   CAST(sum(CASE WHEN r <= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_archive
            FROM ds
        """,
        "decay_relevance": mem + f"""
            SELECT id, round(
                least(
                    greatest(
                        exp(-0.01 * greatest((epoch(TIMESTAMP '{NOW}') - epoch(timestamp)) / 86400.0, 0.0))
                        * (0.3 + 0.3 * (CASE WHEN greatest((epoch(TIMESTAMP '{NOW}') - epoch(timestamp)) / 86400.0, 0.0) < 1.0
                                             THEN 1.0
                                             ELSE exp(-0.05 * greatest((epoch(TIMESTAMP '{NOW}') - epoch(timestamp)) / 86400.0, 0.0)) END))
                        * (1.0 + 0.3 * ln(1.0 + (n_chars % 10)))
                        * (0.5 + importance)
                        * (0.7 + 0.3 * confidence),
                        importance * 0.3
                    ),
                    1.0
                ), 6) AS relevance_score
            FROM memories
        """,
        "classify": _classify_oracle(),
        "enrich_pipeline": _enrich_pipeline_oracle(),
        # X17: expected terms constructed directly from the generating
        # columns — ground truth for the generic JSON walk on the Spark side
        "metadata_terms_walk": mem + """
            , t AS (
                SELECT id, tool, project,
                       list_sort(list_distinct([
                           project,
                           'repo-' || lang,
                           tool,
                           'model-' || CAST(id % 4 AS STRING),
                           'v' || CAST(id % 3 AS STRING) || '.2 beta',
                           'v' || CAST(id % 3 AS STRING),
                           '2', 'beta'
                       ])) AS terms
                FROM memories
            )
            SELECT id, array_to_string(terms, '|') AS terms,
                   CAST(len(terms) AS BIGINT) AS n_terms,
                   CAST((CASE WHEN project = 'alpha' THEN 1 ELSE 0 END)
                      + (CASE WHEN tool = 'spark' THEN 1 ELSE 0 END)
                      + 1 AS BIGINT) AS token_hits,
                   CASE WHEN tool = 'spark' THEN 1 ELSE 0 END AS exact_match
            FROM t
        """,
        "pattern_detection": mem + f"""
            , conf AS (SELECT type, content FROM memories WHERE confidence > 0.5),
            sizes AS (
                SELECT type, count(*) AS n_members FROM conf
                GROUP BY type HAVING count(*) >= 4
            ),
            toks AS (
                SELECT c.type AS type, s.n_members AS n_members, u.term AS term
                FROM conf c
                JOIN sizes s USING (type),
                unnest(list_filter(
                    regexp_extract_all(lower(c.content), '[a-zA-Z]{{4,}}'),
                    x -> NOT list_contains({_stoplist_sql()}, x)
                )) AS u(term)
            ),
            counts AS (
                SELECT type, n_members, term, count(*) AS term_count
                FROM toks GROUP BY type, n_members, term
            )
            SELECT type AS mem_type, n_members, term, term_count, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY type ORDER BY term_count DESC, term ASC
                ) AS rank FROM counts
            ) WHERE rank <= 5
        """,
        "forget_classify": memedges + f"""
            , rel_counts AS (SELECT src AS id, count(*) AS rel_count FROM edges GROUP BY src),
            scored AS (
                SELECT m.id AS id, m.importance AS importance, m.type AS type,
                       m.timestamp AS ts,
                       (epoch(TIMESTAMP '{NOW}') - epoch(m.timestamp)) / 86400.0 AS raw_age,
                       greatest((epoch(TIMESTAMP '{NOW}') - epoch(m.timestamp)) / 86400.0, 0.0) AS age_days,
                       coalesce(r.rel_count, 0) AS rel_count,
                       m.confidence AS confidence
                FROM memories m LEFT JOIN rel_counts r ON r.id = m.id
            ),
            decayed AS (
                SELECT *, least(
                    greatest(
                        exp(-0.01 * age_days)
                        * (0.3 + 0.3 * (CASE WHEN age_days < 1.0 THEN 1.0
                                             ELSE exp(-0.05 * age_days) END))
                        * (1.0 + 0.3 * ln(1.0 + rel_count))
                        * (0.5 + importance)
                        * (0.7 + 0.3 * confidence),
                        importance * 0.3
                    ), 1.0) AS relevance
                FROM scored
            )
            SELECT id,
                   CASE WHEN importance >= 0.7 OR raw_age < 90.0
                             OR type IN ('Decision', 'Insight') THEN 'preserved'
                        WHEN relevance < 0.25 THEN 'delete'
                        WHEN relevance < 0.35 THEN 'archive'
                        ELSE 'update' END AS action,
                   round(relevance, 6) AS relevance_score
            FROM decayed
        """,
        "creative_pairs": memedges + f"""
            , cand AS (
                SELECT m.id AS id, m.type AS type, m.timestamp AS ts, e.embedding AS embedding
                FROM memories m JOIN embeddings e ON e.vec_id = m.id
                WHERE NOT coalesce(m.archived, false) AND m.importance > 0.3 AND m.id < 100
            ),
            existing AS (
                SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
            ),
            pairs AS (
                SELECT a.id AS src, b.id AS dst, a.type AS type_a, b.type AS type_b,
                       abs(epoch(a.ts) - epoch(b.ts)) / 86400.0 AS dt_days,
                       {_COS.format(a='a.embedding', b='b.embedding')} AS sim
                FROM cand a JOIN cand b ON a.id < b.id
                WHERE NOT EXISTS (
                    SELECT 1 FROM existing x WHERE x.src = a.id AND x.dst = b.id
                )
            )
            SELECT src, dst, rel_type, kind, round(confidence, 6) AS confidence FROM (
                SELECT src, dst,
                    CASE WHEN type_a = 'Decision' AND type_b = 'Decision' AND sim < 0.3
                              THEN 'CONTRADICTS'
                         WHEN type_a IN ('Insight','Pattern') AND type_b IN ('Insight','Pattern') AND sim > 0.5
                              THEN 'DISCOVERED'
                         WHEN sim > 0.7 AND type_a != type_b THEN 'DISCOVERED'
                         WHEN dt_days < 7.0 AND sim < 0.4 THEN 'DISCOVERED'
                         END AS rel_type,
                    CASE WHEN type_a = 'Decision' AND type_b = 'Decision' AND sim < 0.3
                              THEN CAST(NULL AS STRING)
                         WHEN type_a IN ('Insight','Pattern') AND type_b IN ('Insight','Pattern') AND sim > 0.5
                              THEN 'explains'
                         WHEN sim > 0.7 AND type_a != type_b THEN 'shares_theme'
                         WHEN dt_days < 7.0 AND sim < 0.4 THEN 'parallel_context'
                         END AS kind,
                    CASE WHEN type_a = 'Decision' AND type_b = 'Decision' AND sim < 0.3 THEN 0.6
                         WHEN type_a IN ('Insight','Pattern') AND type_b IN ('Insight','Pattern') AND sim > 0.5 THEN 0.7
                         WHEN sim > 0.7 AND type_a != type_b THEN sim
                         WHEN dt_days < 7.0 AND sim < 0.4 THEN 0.5
                         END AS confidence
                FROM pairs
            ) WHERE rel_type IS NOT NULL
        """,
        "cluster_summaries": f"""
            WITH RECURSIVE {MEMORIES_ORACLE_CTE.strip()},
            nodes AS (SELECT vec_id FROM embeddings WHERE vec_id < 150),
            cpairs AS (
                SELECT a.vec_id AS src, b.vec_id AS dst
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                WHERE a.vec_id < 150 AND b.vec_id < 150
                  AND {_COS.format(a='a.embedding', b='b.embedding')} >= 0.25
            ),
            und AS (
                SELECT src AS a, dst AS b FROM cpairs
                UNION SELECT dst AS a, src AS b FROM cpairs
            ),
            reach AS (
                SELECT vec_id AS a, vec_id AS b FROM nodes
                UNION SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b
            ),
            comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
            joined AS (
                SELECT c.component AS component, m.type AS type, m.timestamp AS ts
                FROM comp c JOIN memories m ON m.id = c.id
            ),
            sizes AS (
                SELECT component, count(*) AS n_members,
                       round((max(epoch(ts)) - min(epoch(ts))) / 86400.0, 6) AS span_days
                FROM joined GROUP BY component HAVING count(*) >= 3
            ),
            tc AS (SELECT component, type, count(*) AS tc FROM joined GROUP BY component, type),
            dom AS (
                SELECT component, type AS dominant_type FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY component ORDER BY tc DESC, type ASC
                    ) AS rn FROM tc
                ) WHERE rn = 1
            )
            SELECT s.component AS component, s.n_members AS n_members,
                   d.dominant_type AS dominant_type, s.span_days AS span_days
            FROM sizes s JOIN dom d USING (component)
        """,
        "multi_recall": _multi_recall_oracle(),
        "multi_recall_hybrid": _multi_recall_hybrid_oracle(),
        "auto_decompose": _multi_recall_oracle(DECOMPOSED_QUERIES),
        "current_state": _current_state_oracle(),
        "hybrid_recall_vector": _hybrid_vector_oracle(),
        "ann_ivf": _ann_ivf_oracle(),
        # identical semantics/quantizer to ann_ivf — the variant differs only
        # in the physical path (bucketed write + partition-pruned probe)
        "ann_ivf_indexed": _ann_ivf_oracle(),
        "doc_summaries": r"""
            WITH s AS (
                SELECT doc_id, text,
                       CASE WHEN regexp_extract(text, '^(.*?[.!?])(\s|$)', 1) = ''
                            THEN text
                            ELSE regexp_extract(text, '^(.*?[.!?])(\s|$)', 1)
                       END AS first
                FROM documents
            ),
            t AS (SELECT doc_id, text, first, substring(first, 1, 240) AS head FROM s)
            SELECT doc_id,
                   trim(CASE WHEN length(first) <= 240 THEN first
                             WHEN length(regexp_extract(head, '^(.*)\s\S*$', 1)) > 0
                                  THEN regexp_extract(head, '^(.*)\s\S*$', 1)
                             ELSE head END) AS summary,
                   regexp_replace(regexp_replace(regexp_replace(
                       lower(substring(text, 1, 40)),
                       '[^a-z0-9]+', '-', 'g'), '^-+', ''), '-+$', '') AS slug
            FROM t
        """,
        "embedding_coerce": """
            WITH p AS (
                SELECT doc_id,
                       CASE CAST(doc_id % 5 AS INT)
                            WHEN 0 THEN CAST(doc_id % 7 AS VARCHAR) || ',' || CAST(doc_id % 11 AS VARCHAR)
                                        || ', ' || CAST(doc_id % 13 AS VARCHAR) || ',' || CAST(doc_id % 3 AS VARCHAR)
                            WHEN 1 THEN '1,2,3'
                            WHEN 2 THEN 'a,b,c,d'
                            WHEN 3 THEN ''
                       END AS e
                FROM documents
            ),
            s AS (
                SELECT doc_id, e,
                       list_filter(list_transform(string_split(coalesce(e, ''), ','),
                                                  x -> trim(x)), x -> x != '') AS parts
                FROM p
            ),
            n AS (
                SELECT *, list_transform(parts, x -> TRY_CAST(x AS DOUBLE)) AS nums,
                       CASE WHEN e IS NULL OR e = '' THEN 'empty'
                            WHEN len(parts) != 4 THEN 'wrong_dim'
                            WHEN len(list_filter(list_transform(parts, x -> TRY_CAST(x AS DOUBLE)),
                                                 x -> x IS NULL)) > 0 THEN 'non_numeric'
                            ELSE 'ok' END AS status
                FROM s
            )
            -- micro-unit CSV string, not a LIST column: raw lists crash the
            -- driver's pandas canonicalizer (unhashable in sort_values).
            SELECT doc_id, status,
                   CASE WHEN status = 'ok' THEN
                       array_to_string(list_transform(nums,
                           x -> CAST(CAST(round(x * 1e6, 0) AS BIGINT)
                                     AS VARCHAR)), ',')
                   END AS embedding_us
            FROM n
        """,
        "content_governance": r"""
            WITH p AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 9 = 0 THEN repeat(text || ' ', 10)
                            WHEN doc_id % 9 = 1 THEN repeat(text || ' ', 3)
                            ELSE text END AS content
                FROM documents
            ),
            a AS (
                SELECT doc_id, content,
                       CASE WHEN trim(content) = '' THEN 'ok'
                            WHEN length(trim(content)) > 2000 THEN 'reject'
                            WHEN length(trim(content)) > 500 THEN 'summarize'
                            ELSE 'ok' END AS content_action
                FROM p
            ),
            s AS (
                SELECT *, CASE WHEN regexp_extract(content, '^(.*?[.!?])(\s|$)', 1) = ''
                               THEN content
                               ELSE regexp_extract(content, '^(.*?[.!?])(\s|$)', 1)
                          END AS first
                FROM a
            ),
            t AS (SELECT *, substring(first, 1, 240) AS head FROM s)
            SELECT doc_id, content_action,
                   CASE WHEN content_action = 'summarize'
                        THEN trim(CASE WHEN length(first) <= 240 THEN first
                                       WHEN length(regexp_extract(head, '^(.*)\s\S*$', 1)) > 0
                                            THEN regexp_extract(head, '^(.*)\s\S*$', 1)
                                       ELSE head END)
                        ELSE content END AS content,
                   CASE WHEN content_action = 'summarize' THEN content END AS original_content
            FROM t
        """,
        "entity_frequency": mem + f"""
            SELECT entity, n FROM (
                SELECT entity, count(*) AS n FROM (
                    SELECT unnest([project, tool, model, repo]) AS entity
                    FROM ({_POOL})
                ) GROUP BY entity
            )
            ORDER BY n DESC, entity ASC
            LIMIT 50
        """,
        "entity_tag_audit": mem + f"""
            , cand AS (
                SELECT id AS memory_id,
                       unnest([
                           'entity:projects:' || project,
                           'entity:tools:' || tool,
                           CASE WHEN id % 11 = 0 THEN 'entity:category-x:' || model END,
                           CASE WHEN id % 13 = 0 THEN 'entity:people:' END
                       ]) AS tag
                FROM memories
            ),
            parsed AS (
                SELECT memory_id, tag,
                       string_split(tag, ':')[2] AS category,
                       string_split(tag, ':')[3] AS slug
                FROM cand WHERE tag IS NOT NULL
            )
            SELECT tag, category,
                   CASE WHEN category NOT IN {AUDIT_CATEGORIES} THEN 'invalid_category'
                        WHEN slug = '' THEN 'empty_slug'
                        WHEN NOT regexp_matches(slug, '^[a-z0-9][a-z0-9-]*$')
                             THEN 'invalid_slug'
                        ELSE 'accepted' END AS status,
                   count(*) AS n_refs
            FROM parsed
            GROUP BY tag, category, status
        """,
        "entity_expansion": mem + f"""
            , tagged AS (
                SELECT * REPLACE (
                    CASE WHEN id % 7 < 3
                         THEN list_append(tags, 'entity:people:person-' || CAST(id % 7 AS STRING))
                         ELSE tags END AS tags)
                FROM memories
            ),
            seeds AS (SELECT * FROM tagged WHERE id < 30),
            slugs AS (
                SELECT DISTINCT string_split(t, ':')[-1] AS slug
                FROM (SELECT unnest(tags) AS t FROM seeds)
                WHERE starts_with(t, 'entity:people:')
                ORDER BY slug LIMIT 5
            ),
            cand AS (
                SELECT m.*, s.slug FROM tagged m CROSS JOIN slugs s
                WHERE len(list_filter(m.tags, t ->
                        starts_with(t, 'entity:people:' || s.slug))) > 0
                  AND m.id NOT IN (SELECT id FROM seeds)
            ),
            ranked AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY slug ORDER BY importance DESC, id ASC) AS er
                    FROM cand
                ) WHERE er <= 5
            ),
            dd AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY id ORDER BY slug ASC) AS ir
                    FROM ranked
                ) WHERE ir = 1
            ),
            scored AS (
                SELECT id, slug AS entity, importance,
                       0.35 * {_kw_fallback_sql(_KEYWORDS)}
                       + 0.2 * least(1.0, ({_TAG_HITS}) / {float(len(_KEYWORDS))})
                       + {_W_IMP} * importance + {_W_CONF} * confidence
                       + {_W_REC} * {_RECENCY} + 0.15 AS final
                FROM dd
            )
            SELECT id, entity, round(final, 6) AS final_score,
                   round(importance, 6) AS importance
            FROM scored
            ORDER BY final DESC, id ASC
            LIMIT 25
        """,
        "recall_full": _recall_full_oracle(),
        "extract_entities": extract_entities_oracle_sql(ENTITY_FIXTURE_ORACLE_CTE),
        "metadata_search": _metadata_oracle(META_QUERY_SCOPED),
        "hybrid_recall_metadata": _hybrid_metadata_oracle(),
        "metadata_search_unscoped": _metadata_oracle(META_QUERY_UNSCOPED),
        "adaptive_floor": _scored_kw_oracle(50) + """
            , ranked AS (
                SELECT *, row_number() OVER (ORDER BY final DESC, id ASC) AS rn,
                       count(*) OVER () AS n, max(final) OVER () AS top,
                       lag(final) OVER (ORDER BY final DESC, id ASC) - final AS gap
                FROM final
            ),
            cands AS (
                SELECT *, CASE WHEN rn >= 2 AND rn <= greatest(3, n // 2) AND gap > 0
                               THEN gap END AS cand_gap
                FROM ranked
            ),
            mg AS (SELECT *, max(cand_gap) OVER () AS max_gap FROM cands),
            gr AS (SELECT *, min(CASE WHEN cand_gap = max_gap THEN rn END) OVER () AS gap_rank FROM mg),
            fl AS (SELECT *, max(CASE WHEN rn = gap_rank THEN final END) OVER () AS floor_v FROM gr),
            rt AS (SELECT *, sum(CASE WHEN final >= floor_v THEN 1 ELSE 0 END) OVER () AS retained FROM fl)
            SELECT id, round(final, 6) AS final_score FROM rt
            WHERE NOT coalesce(n > 3 AND max_gap IS NOT NULL AND max_gap > 0.25 * top
                               AND retained >= (n + 1) // 2, false)
               OR final >= floor_v
        """,
        "recency_rerank": _scored_kw_oracle(20) + """
            SELECT id, round(final + 0.1 * CASE WHEN tmax > tmin
                                                THEN (ep - tmin) / (tmax - tmin)
                                                ELSE 0.0 END, 6) AS final_score
            FROM (
                SELECT *, epoch(timestamp) AS ep,
                       min(epoch(timestamp)) OVER () AS tmin,
                       max(epoch(timestamp)) OVER () AS tmax
                FROM final
            )
        """,
        "score_health": _scored_kw_oracle(50) + f"""
            SELECT count(*) AS n, {_US_MEAN_SQL('final')} AS mean_score,
                   round(stddev_samp(final), 6) AS stddev_score,
                   round(max(final) - min(final), 6) AS spread
            FROM final
        """,
        "paginated_scan": """
            SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders
            ORDER BY total DESC, o_orderkey ASC
            LIMIT 50 OFFSET 100
        """,
        "startup_recall": mem + f"""
            SELECT 'lang_en' AS scan, count(*) AS n,
                   round(max(importance), 6) AS top_importance,
                   max(importance >= 0.9) AS has_critical
            FROM ({_POOL}) WHERE list_contains([lower(t) for t in tags], 'lang:en')
            UNION ALL
            SELECT 'src1', count(*), round(max(importance), 6), max(importance >= 0.9)
            FROM ({_POOL}) WHERE list_contains([lower(t) for t in tags], 'source:src1')
        """,
        "scope_fallback": _scope_fallback_oracle(),
        "priority_injection": _priority_injection_oracle(),
        "upsert_latest": mem + """
            , cur AS (
                SELECT id, content, CAST(epoch(timestamp) AS BIGINT) AS updated_at_epoch
                FROM memories
            ),
            inc AS (
                SELECT id, content || ' v2' AS content, updated_at_epoch + 86400 AS updated_at_epoch
                FROM cur WHERE id % 10 = 0
            ),
            unioned AS (
                SELECT *, 0 AS src FROM cur UNION ALL SELECT *, 1 AS src FROM inc
            )
            SELECT id, ends_with(content, ' v2') AS is_v2, updated_at_epoch FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY id ORDER BY updated_at_epoch DESC, src DESC
                ) AS rn FROM unioned
            ) WHERE rn = 1
        """,
        "delete_by_tag": mem + """
            SELECT id, lang FROM memories
            WHERE NOT list_contains([lower(t) for t in tags], 'lang:fr')
        """,
        "entity_dedup": _entity_dedup_oracle(),
        "entity_merge_apply": _entity_dedup_oracle(apply=True),
        "entity_identity_lookup": "WITH " + entities_oracle_cte() + """
            SELECT id, slug, category FROM entities
            WHERE merged_into IS NULL
              AND (slug IN ('alice', 'apache-kafka', 'flink', 'nonexistent')
                   OR len(list_intersect(aliases,
                       ['alice', 'apache-kafka', 'flink', 'nonexistent'])) > 0)
        """,
        "entity_ref_counts": "WITH " + entities_oracle_cte() + ", " + entity_refs_oracle_cte() + """
            SELECT e.id AS id, e.slug AS slug, e.category AS category,
                   CAST(coalesce(r.n_refs, 0) AS BIGINT) AS n_refs
            FROM entities e
            LEFT JOIN (SELECT entity_id, count(*) AS n_refs FROM entity_refs GROUP BY entity_id) r
              ON r.entity_id = e.id
            WHERE e.merged_into IS NULL
        """,
        "identity_synthesis": _identity_synthesis_oracle(),
        "identity_consolidation": _identity_synthesis_oracle(
            entities_src="merged_entities",
            refs_src="rewritten_refs",
            extra=_DEDUP_CHAIN_SQL
            + """,
            cmerges AS (
                SELECT canonical_id,
                       CASE WHEN canonical_id = id_a THEN id_b ELSE id_a END AS alias_id
                FROM bucketed WHERE bucket = 'auto'
            ),
            merged_entities AS (
                SELECT e.id, e.slug, e.category,
                       coalesce(e.merged_into, m.canonical_id) AS merged_into
                FROM entities e LEFT JOIN cmerges m ON m.alias_id = e.id
            ),
            rewritten_refs AS (
                SELECT DISTINCT coalesce(m.canonical_id, r.entity_id) AS entity_id,
                       r.memory_id
                FROM entity_refs r LEFT JOIN cmerges m ON m.alias_id = r.entity_id
            )""",
        ),
        "single_store": _single_store_oracle(),
        "uuid_validate": _uuid_validate_oracle(),
        "delete_by_id": memedges + """
            , del AS (SELECT id FROM memories WHERE id % 21 = 0)
            SELECT 'memories' AS kind, '' AS rel_type, count(*) AS n
            FROM memories WHERE id NOT IN (SELECT id FROM del)
            UNION ALL
            SELECT 'edges' AS kind, rel_type, count(*) AS n
            FROM edges
            WHERE src NOT IN (SELECT id FROM del)
              AND dst NOT IN (SELECT id FROM del)
            GROUP BY rel_type
        """,
        "backup_export": memedges + """
            SELECT 'memories_active' AS "table", count(*) AS n_rows
            FROM memories WHERE NOT coalesce(archived, false)
            UNION ALL
            SELECT 'edges' AS "table", count(*) AS n_rows FROM edges
        """,
        "exclude_tags": mem + """
            SELECT id, lang, source FROM memories
            WHERE len(list_filter(tags, t ->
                    lower(t) = 'lang/fr'
                    OR starts_with(regexp_replace(lower(t), '[:/]+', ':'), 'lang:fr')
                    OR lower(t) = 'source:src2'
                    OR starts_with(regexp_replace(lower(t), '[:/]+', ':'), 'source:src2')
                  )) = 0
        """,
        "event_log": mem + f"""
            , ev AS (
                SELECT 'memory.store' AS event_type, timestamp AS ts,
                       CAST(id AS STRING) AS key
                FROM memories WHERE id % 10 = 0
                UNION ALL
                SELECT 'memory.recall', timestamp + INTERVAL 2 HOUR, CAST(id AS STRING)
                FROM memories WHERE contains(lower(content), 'spark')
                UNION ALL
                SELECT 'enrichment.complete', timestamp + INTERVAL 1 HOUR, CAST(id AS STRING)
                FROM memories WHERE id % 3 = 0 AND id % 57 != 0
                UNION ALL
                SELECT 'enrichment.failed', timestamp + INTERVAL 1 HOUR, CAST(id AS STRING)
                FROM memories WHERE id % 57 = 0
                UNION ALL
                SELECT 'consolidation.run', TIMESTAMP '{NOW}', 'decay'
            )
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
                   count(*) AS n, count(DISTINCT key) AS n_keys
            FROM ev GROUP BY 1, 2
        """,
        "dedup_exact": f"""
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM (
                SELECT doc_id,
                       trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
                FROM documents
            ) GROUP BY norm
        """,
        # fold emitted from the shared FINGERPRINT_STEPS spec (text.py) —
        # the same table the Spark dedup key and Column twin are built from
        "dedup_fingerprint": f"""
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM (
                SELECT doc_id,
                       {fingerprint_fold_sql_duck("text")} AS fp
                FROM documents
            )
            WHERE fp IS NOT NULL AND fp != ''
            GROUP BY fp
        """,
        # minhash_lsh oracle = the exact n-gram Jaccard pairs over the FULL
        # documents table. Validity: the Spark side post-verifies every LSH
        # candidate with the same exact Jaccard (output ⊆ exact by
        # construction), and with 64 hashes / 32 bands (r=2) the per-pair
        # miss probability at j=0.4 is (1-0.4²)³² ≈ 0.4% (≈1e-7 at j≥0.6);
        # xxhash64 is deterministic, and recall is empirically 1.0 on this
        # corpus — so LSH output == exact output, reproducibly.
        # Shape: inverted-index (self-join on shingle, |A∩B| by count,
        # |A∪B| = nA+nB-|A∩B|), NOT all-pairs list_intersect — bit-identical
        # rows (verified), but near-linear in corpus size instead of O(N²),
        # which is what makes the sf1 oracle run in seconds instead of the
        # 40 minutes that kept minhash out of the r6 sf1 gate.
        "minhash_lsh": f"""
            WITH w AS (
                SELECT doc_id, {_WORDS.format(col='text')} AS ws FROM documents
            ),
            sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w),
            ex AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
            sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
            pair_inter AS (
                SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS i
                FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT src, dst,
                   round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
            FROM pair_inter
            JOIN sizes sa ON sa.doc_id = src
            JOIN sizes sb ON sb.doc_id = dst
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.4
        """,
        # simhash oracle: identical bit-vote algorithm over md5-derived
        # 60-bit token hashes (first 15 hex chars — sign-safe), which DuckDB
        # and Spark compute identically.
        "simhash": f"""
            WITH w AS (
                SELECT doc_id, list_distinct({_WORDS.format(col='text')}) AS ws
                FROM documents
            ),
            h AS (
                SELECT doc_id,
                       [('0x' || substring(md5(x), 1, 15))::BIGINT for x in ws] AS hs
                FROM w
            )
            SELECT doc_id,
                   -- list_sum yields HUGEINT in DuckDB; the driver's value
                   -- hash is type-sensitive, so cast back to BIGINT to match
                   -- Spark's long.
                   CAST(coalesce(list_sum([
                       CASE WHEN list_sum([CASE WHEN (hh >> b) & 1 = 1 THEN 1 ELSE -1 END
                                           for hh in hs]) > 0
                            THEN (1::BIGINT << b) ELSE 0 END
                       for b in range(0, 60)]), 0) AS BIGINT) AS simhash
            FROM h
        """,
        "corpus_profile": f"""
            WITH w AS (
                SELECT doc_id, lang, source, n_chars,
                       len({_WORDS.format(col='text')}) AS n_tokens
                FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT source) AS n_sources,
                   {_DR_SQL('CAST(sum(n_tokens) AS DOUBLE) / count(*)', 4)} AS avg_tokens,
                   round(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 4) AS p50_chars,
                   round(CAST(quantile_cont(n_chars, 0.95) AS DOUBLE), 4) AS p95_chars
            FROM w GROUP BY lang
        """,
        # The approx census: the oracle computes the EXACT columns and
        # emits literal TRUE accuracy flags — the Spark side computes the
        # flags from its sketches, so a sketch drifting past tolerance
        # flips a flag and hash-mismatches. (An approximation cannot
        # value-match an exact oracle; the tolerance contract is the
        # honest cross-engine check.)
        "corpus_profile_approx": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources_exact,
                   TRUE AS hll_within_5pct,
                   TRUE AS p50_in_rank_band,
                   TRUE AS p95_in_rank_band
            FROM documents GROUP BY lang
        """,
        "dedup_pipeline": f"""
            WITH RECURSIVE w AS (
                SELECT doc_id, {_WORDS.format(col='text')} AS ws
                FROM documents WHERE doc_id < 200
            ),
            sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w),
            jpairs AS (
                SELECT a.doc_id AS src, b.doc_id AS dst
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
                  AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.4
            ),
            und AS (
                SELECT src AS a, dst AS b FROM jpairs
                UNION
                SELECT dst AS a, src AS b FROM jpairs
            ),
            reach AS (
                SELECT doc_id AS a, doc_id AS b FROM (SELECT doc_id FROM documents WHERE doc_id < 200)
                UNION
                SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b
            ),
            labels AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
            reps AS (SELECT component, min(id) AS rep FROM labels GROUP BY component)
            SELECT l.id AS id, l.component AS component, (l.id = r.rep) AS keep
            FROM labels l JOIN reps r USING (component)
        """,
        "simhash_pairs": f"""
            WITH w AS (
                SELECT doc_id, list_distinct({_WORDS.format(col='text')}) AS ws
                FROM documents
            ),
            h AS (
                SELECT doc_id,
                       [('0x' || substring(md5(x), 1, 15))::BIGINT for x in ws] AS hs
                FROM w
            ),
            s AS (
                SELECT doc_id,
                       CAST(coalesce(list_sum([
                           CASE WHEN list_sum([CASE WHEN (hh >> b) & 1 = 1 THEN 1 ELSE -1 END
                                               for hh in hs]) > 0
                                THEN (1::BIGINT << b) ELSE 0 END
                           for b in range(0, 60)]), 0) AS BIGINT) AS sh
                FROM h
            )
            -- banded candidate generation WITH the hot-bucket cap, then the
            -- exact hamming verify. The cap (>512-member (band,bucket)
            -- groups emit no pairs from that band) is part of the
            -- operator's contract — an uncapped brute-force oracle agrees
            -- only while no bucket exceeds the cap (true at sf0.01, false
            -- at sf1 where the replica corpus clusters; r7 sf1 sweep).
            , bands AS (
                SELECT doc_id, sh, t.b AS b,
                       (sh >> (t.b * 15)) % 32768 AS bucket
                FROM s, unnest([0, 1, 2, 3]) AS t(b)
            ),
            sized AS (
                SELECT *, count(*) OVER (PARTITION BY b, bucket) AS bsz
                FROM bands
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS src, b2.doc_id AS dst
                FROM sized a JOIN sized b2
                  ON a.b = b2.b AND a.bucket = b2.bucket
                 AND a.doc_id < b2.doc_id
                WHERE a.bsz BETWEEN 2 AND 512
            )
            SELECT c.src, c.dst,
                   CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
            FROM cand c
            JOIN s sa ON sa.doc_id = c.src
            JOIN s sb ON sb.doc_id = c.dst
            WHERE bit_count(xor(sa.sh, sb.sh)) <= 3
        """,
        "doc_fingerprint": f"""
            WITH w AS (
                SELECT doc_id,
                       list_slice({_WORDS.format(col='text')}, 1, 8) AS ws
                FROM documents
            )
            SELECT doc_id,
                   list_reduce(
                       [CAST(0 AS BIGINT)] ||
                       [('0x' || substring(md5(x), 1, 15))::BIGINT % 1000000007
                        for x in ws],
                       (acc, hh) -> (acc * 31 + hh) % 1000000007
                   ) AS prefix_fp
            FROM w
        """,
        "ngram_jaccard": f"""
            WITH w AS (
                SELECT doc_id, {_WORDS.format(col='text')} AS ws
                FROM documents WHERE doc_id < 200
            ),
            sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w)
            SELECT a.doc_id AS src, b.doc_id AS dst,
                   round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
              AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.4
        """,
        "vector_topk": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round(sim, 5) AS sim FROM (
                SELECT e.vec_id AS vec_id, {_COS.format(a='e.embedding', b='q.qv')} AS sim
                FROM embeddings e, q
            )
            ORDER BY sim DESC, vec_id ASC
            LIMIT 10
        """,
        "vector_pairs": f"""
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   round({_COS.format(a='a.embedding', b='b.embedding')}, 5) AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 150 AND b.vec_id < 150
              AND {_COS.format(a='a.embedding', b='b.embedding')} >= 0.25
        """,
        "label_norms": f"""
            SELECT label, count(*) AS n,
                   {_US_MEAN_SQL('sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))')} AS avg_norm
            FROM embeddings GROUP BY label
        """,
        "training_selection": f"""
            WITH w AS (
                SELECT doc_id, text, source, {_WORDS.format(col='text')} AS ws
                FROM documents
            ),
            h AS (SELECT *, {lang_hits} FROM w),
            q AS (
                SELECT *, {lang_case} AS detected,
                       floor((
                     0.25 * least(1.0, len(ws) / 100.0)
                     + 0.25 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                               / greatest(length(text), 1))
                     + 0.25 * least(1.0, ({_LANG_HITS['en'].replace('ws', 'ws')}) / 5.0)
                     + 0.25 * (1.0 - least(1.0, length(regexp_replace(text, '[\\w\\s]', '', 'g'))
                                                / greatest(length(text), 1) * 5.0))
                     ) * 1000000.0 + 0.5) / 1000000.0 AS quality
                FROM h
            ),
            k AS (
                SELECT *, min(doc_id) OVER (
                    PARTITION BY trim(regexp_replace(regexp_replace(lower(text),
                        '[^\\w\\s]', ' ', 'g'), '\\s+', ' ', 'g'))
                ) AS keeper
                FROM q
            )
            SELECT source, count(*) AS n_docs,
                   round(sum(CAST(round(quality * 1000000) AS BIGINT)) * 1.0 / count(*) / 1000000, 6) AS avg_quality
            FROM k
            WHERE detected = 'en' AND quality >= 0.45 AND doc_id = keeper
            GROUP BY source
        """,
        "lang_id": f"""
            WITH w AS (
                SELECT lang, {_WORDS.format(col='text')} AS ws FROM documents
            ),
            h AS (SELECT lang, {lang_hits} FROM w)
            SELECT lang, {lang_case} AS detected_lang, count(*) AS n
            FROM h GROUP BY lang, detected_lang
        """,
        "repetition_filter": f"""
            WITH p AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN text || repeat(' spark graft', 30)
                            WHEN doc_id % 7 = 1 THEN text || ' ' || text || ' ' || text
                            ELSE text END AS text
                FROM documents
            ),
            w AS (SELECT doc_id, {_WORDS.format(col='text')} AS ws FROM p),
            base AS (
                SELECT doc_id, len(ws) AS nw, len(list_distinct(ws)) AS nd FROM w
            ),
            -- inverted (unnest + GROUP BY) shape like the Spark side: the
            -- per-row count-each-gram comprehension is O(len^2) per doc
            -- and took ~5 min at sf1; this is near-linear
            grams AS (
                SELECT doc_id, 2 AS n,
                       unnest(CASE WHEN len(ws) >= 2 THEN
                           [array_to_string(ws[i:i+1], ' ')
                            for i in generate_series(1, len(ws)-1)]
                       ELSE [] END) AS g
                FROM w
                UNION ALL
                SELECT doc_id, 3,
                       unnest(CASE WHEN len(ws) >= 3 THEN
                           [array_to_string(ws[i:i+2], ' ')
                            for i in generate_series(1, len(ws)-2)]
                       ELSE [] END)
                FROM w
            ),
            counts AS (
                SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3
            ),
            stats AS (
                SELECT doc_id,
                       max(CASE WHEN n = 2 THEN c END) AS top2,
                       sum(CASE WHEN n = 2 THEN c END) AS tot2,
                       sum(CASE WHEN n = 3 AND c >= 2 THEN c ELSE 0 END) AS dup3,
                       sum(CASE WHEN n = 3 THEN c END) AS tot3
                FROM counts GROUP BY 1
            ),
            m AS (
                SELECT b.doc_id,
                       CASE WHEN nw > 0
                            THEN 1.0 - CAST(nd AS DOUBLE) / nw
                            ELSE 0.0 END AS dw,
                       coalesce(CAST(top2 AS DOUBLE) / tot2, 0.0) AS tb,
                       coalesce(CAST(dup3 AS DOUBLE) / tot3, 0.0) AS dt
                FROM base b LEFT JOIN stats s USING (doc_id)
            )
            SELECT doc_id,
                   round(dw, 6) AS dup_word_frac,
                   round(tb, 6) AS top_bigram_frac,
                   round(dt, 6) AS dup_trigram_frac,
                   (round(dw, 6) <= 0.80 AND round(tb, 6) <= 0.18
                    AND round(dt, 6) <= 0.30) AS keep
            FROM m
        """,
        "doc_chunks": f"""
            WITH w AS (
                SELECT doc_id, {_WORDS.format(col='text')} AS ws FROM documents
            ),
            s AS (
                SELECT doc_id, ws,
                       unnest(generate_series(1, greatest(len(ws) - 16, 1), 48))
                           AS start
                FROM w WHERE len(ws) > 0
            )
            SELECT doc_id,
                   CAST(floor((start - 1) / 48.0) AS BIGINT) AS chunk_idx,
                   CAST(start AS BIGINT) AS start_word,
                   CAST(len(ws[start : start + 63]) AS BIGINT) AS n_words,
                   md5(array_to_string(ws[start : start + 63], ' ')) AS chunk_md5
            FROM s
        """,
        "chunk_dedup": f"""
            WITH p AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 11 = 3 THEN '{_CHUNK_BOILER}'
                            ELSE text END AS text
                FROM documents
            ),
            w AS (
                SELECT doc_id, {_WORDS.format(col='text')} AS ws FROM p
            ),
            s AS (
                SELECT doc_id, ws,
                       unnest(generate_series(1, greatest(len(ws) - 16, 1), 48))
                           AS start
                FROM w WHERE len(ws) > 0
            ),
            c AS (
                SELECT doc_id,
                       CAST(floor((start - 1) / 48.0) AS BIGINT) AS chunk_idx,
                       md5(array_to_string(ws[start : start + 63], ' ')) AS chunk_md5
                FROM s
            ),
            r AS (
                SELECT doc_id, chunk_idx,
                       row_number() OVER (
                           PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx
                       ) AS rn
                FROM c
            ),
            d AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_chunks,
                       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_dup_chunks
                FROM r GROUP BY doc_id
            )
            SELECT doc_id, n_chunks, n_dup_chunks,
                   {_DR_SQL('n_dup_chunks * 1.0 / n_chunks', 6)} AS dup_chunk_frac,
                   {_DR_SQL('n_dup_chunks * 1.0 / n_chunks', 6)} <= 0.5 AS keep
            FROM d
        """,
        "text_stats": f"""
            WITH w AS (
                SELECT doc_id, text, {_WORDS.format(col='text')} AS ws FROM documents
            )
            SELECT doc_id,
                   len(ws) AS n_tokens,
                   CAST(list_sum([CAST(ceil(length(x) / 4.0) AS INT) for x in ws]) AS INT)
                     + length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_bpe_tokens,
                   floor((
                     0.25 * least(1.0, len(ws) / 100.0)
                     + 0.25 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                               / greatest(length(text), 1))
                     + 0.25 * least(1.0, ({_LANG_HITS['en'].replace('ws', 'ws')}) / 5.0)
                     + 0.25 * (1.0 - least(1.0, length(regexp_replace(text, '[\\w\\s]', '', 'g'))
                                                / greatest(length(text), 1) * 5.0))
                     ) * 1000000.0 + 0.5) / 1000000.0 AS quality
            FROM w
        """,
        "promo_revenue": """
            WITH t AS (
                SELECT p_type,
                       sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1e6,
                                      0) AS BIGINT)) AS _rev_us,
                       count(*) AS n_items
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                GROUP BY p_type
            )
            SELECT p_type,
                   floor((_rev_us / 1e6) * 100.0 + 0.5) / 100.0 AS revenue,
                   n_items,
                   floor((_rev_us / sum(_rev_us) OVER ()) * 1000000.0 + 0.5)
                       / 1000000.0 AS share
            FROM t
        """,
        "supplier_revenue": """
            SELECT n_name,
                   floor((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1e6, 0) AS BIGINT)) / 1e6) * 100.0 + 0.5) / 100.0 AS revenue,
                   count(DISTINCT l_suppkey) AS n_suppliers
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "training_pipeline": _training_pipeline_oracle(),
        "semantic_decontaminate": _semantic_decontaminate_oracle(),
        "decontaminate": f"""
            WITH w AS (SELECT doc_id, {_WORDS.format(col='text')} AS ws FROM documents),
            sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w),
            ev AS (SELECT DISTINCT ng FROM (
                SELECT unnest(shingles) AS ng FROM sh
                WHERE doc_id % 10 = 0 AND doc_id < 100)),
            tr AS (SELECT doc_id, unnest(shingles) AS ng FROM sh
                   WHERE NOT (doc_id % 10 = 0 AND doc_id < 100)),
            hits AS (SELECT doc_id, count(*) AS n FROM tr JOIN ev USING (ng)
                     GROUP BY doc_id)
            SELECT d.doc_id AS doc_id,
                   CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
                   coalesce(h.n, 0) >= 1 AS contaminated
            FROM (SELECT doc_id FROM documents
                  WHERE NOT (doc_id % 10 = 0 AND doc_id < 100)) d
            LEFT JOIN hits h USING (doc_id)
        """,
        "pii_redact": """
            WITH p AS (
                SELECT doc_id, text ||
                  CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
                  CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
                  CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END ||
                  CASE WHEN doc_id % 17 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                  AS t
                FROM documents
            ),
            s1 AS (SELECT doc_id,
                          CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t FROM p),
            s2 AS (SELECT doc_id, n_email,
                          CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn,
                          regexp_replace(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS t FROM s1),
            s3 AS (SELECT doc_id, n_email, n_ssn,
                          CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
                          regexp_replace(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS t FROM s2),
            s4 AS (SELECT doc_id, n_email, n_ssn, n_ipv4,
                          CAST(len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phone,
                          regexp_replace(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS t FROM s3)
            SELECT doc_id, n_email, n_ssn, n_ipv4, n_phone, t AS clean_text,
                   n_email + n_ssn + n_ipv4 + n_phone AS n_pii
            FROM s4
        """,
        "data_mix": """
            WITH k AS (
                SELECT source,
                       CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 <
                            CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 8000
                                        WHEN 'src2' THEN 5000 WHEN 'src3' THEN 2500 ELSE 0 END
                       THEN 1 ELSE 0 END AS keep
                FROM documents
            )
            SELECT source, count(*) AS n_total, CAST(sum(keep) AS BIGINT) AS n_selected,
                   round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS observed_rate
            FROM k GROUP BY source
        """,
        "seq_pack": f"""
            WITH w AS (
                SELECT doc_id, source, len({_WORDS.format(col='text')}) AS n_tokens,
                       ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 % 4 AS shard
                FROM documents
            ),
            o AS (
                SELECT *, coalesce(sum(n_tokens) OVER (
                    PARTITION BY source, shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_off
                FROM w
            )
            SELECT source, shard, CAST(tok_off // 512 AS BIGINT) AS window_id,
                   count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   round(CAST(sum(n_tokens) AS DOUBLE) / 512.0, 6) AS fill_ratio
            FROM o GROUP BY source, shard, CAST(tok_off // 512 AS BIGINT)
        """,
    }
    d["consolidation_run"] = _consolidation_run_oracle(d)
    # Forced-kernel twin (r15, VERDICT r14 ask #2): same values as
    # text_stats by the bit-identity contract, so the same oracle SQL
    # verifies the Arrow-kernel branch the size dispatch never takes at
    # driver scale.
    d["text_stats_map"] = d["text_stats"]
    return d
