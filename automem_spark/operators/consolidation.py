"""Consolidation compound operators (SURVEY.md §2.11).

- C4 forget pass: recompute decay relevance, classify
  delete / archive / preserve(protected) / update (consolidation.py:619-818)
- C2 creative-association heuristics over candidate pairs
  (consolidation.py:334-455; typed rules :414-453)
- C3 cluster summaries: connected components -> per-cluster dominant type,
  member count, time span; >= meta_min members -> MetaPattern emission
  (consolidation.py:457-617, :926-968)

All are single DataFrame programs over (memories, edges, embeddings):
decay is one projection + join on an edges count; creative is a bounded
self-join with CASE heuristics; clustering reuses connected_components.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from automem_spark.functions.detmath import us_mean
from automem_spark.functions.scoring import decay_relevance_expr, protection_expr
from automem_spark.functions.vector import dot_expr, norm_expr
from automem_spark.operators.graph import connected_components
from automem_spark.operators.topk import top_k_per_group


def _last_accessed(df: DataFrame) -> Column:
    """Access-reinforcement input for decay scoring. The reference reads
    m.last_accessed and falls back to the creation timestamp only when
    absent (consolidation.py:1023-1115, calculate_relevance_score); corpora
    that carry the ST7 write-back column must feed it through, or the
    reinforcement factor is silently ignored. The driver fixture has no
    last_accessed column, so there this degenerates to the timestamp."""
    if "last_accessed" in df.columns:
        return F.coalesce(F.col("last_accessed"), F.col("timestamp"))
    return F.col("timestamp")


def forget_classify(
    memories: DataFrame,
    rel_counts: DataFrame | None,
    *,
    now: str,
    delete_threshold: float = 0.0,
    archive_threshold: float = 0.0,
) -> DataFrame:
    """C4: per-memory action classification.

    protected (X7) -> 'preserved'; relevance < delete_threshold -> 'delete';
    < archive_threshold -> 'archive'; else 'update' with the new score.
    rel_counts: (id, rel_count) from edges.groupBy — replaces the reference's
    per-row lru_cache (consolidation.py:201-225) with one distributed agg.
    """
    now_col = F.lit(now).cast("timestamp")
    df = memories
    if rel_counts is not None:
        df = df.join(rel_counts, "id", "left")
    else:
        df = df.withColumn("rel_count", F.lit(0))
    relevance = decay_relevance_expr(
        timestamp=F.col("timestamp"),
        last_accessed=_last_accessed(memories),
        importance=F.col("importance"),
        confidence=F.col("confidence"),
        rel_count=F.coalesce(F.col("rel_count"), F.lit(0)),
        now=now_col,
    )
    protected = protection_expr(
        protected=F.lit(False),
        importance=F.col("importance"),
        timestamp=F.col("timestamp"),
        mem_type=F.col("type"),
        now=now_col,
    )
    action = (
        F.when(protected, "preserved")
        .when(relevance < delete_threshold, "delete")
        .when(relevance < archive_threshold, "archive")
        .otherwise("update")
    )
    return df.select(
        "id", action.alias("action"), F.round(relevance, 6).alias("relevance_score")
    )


def creative_pairs(
    memories: DataFrame,
    embeddings: DataFrame,
    existing_edges: DataFrame,
    *,
    max_id: int = 100,
    min_importance: float = 0.3,
) -> DataFrame:
    """C2/J15: typed association heuristics over candidate pairs
    (consolidation.py:414-453). Candidates: non-archived memories with
    importance > min_importance and id < max_id (the reference random-samples
    20-30; bounded-id selection keeps it deterministic), pairs without an
    existing edge (either direction).

    Rules (first match wins, reference order):
      Decision x Decision, sim < 0.3          -> CONTRADICTS   (0.6)
      {Insight, Pattern} both present, sim>0.5 -> DISCOVERED/explains (0.7)
      sim > 0.7 and different types            -> DISCOVERED/shares_theme (sim)
      |Δt| < 7d and sim < 0.4                  -> DISCOVERED/parallel_context (0.5)
    """
    cand = (
        memories.filter(
            (F.coalesce(F.col("archived"), F.lit(False)) == False)  # noqa: E712
            & (F.col("importance") > min_importance)
            & (F.col("id") < max_id)
        )
        .join(embeddings.select(F.col("vec_id").alias("id"), "embedding"), "id")
        .select("id", "type", "timestamp", "embedding")
    )
    # r14: bind per-row norms before the pair join — `sim` is referenced by
    # every rule branch below, and each inlined reference re-evaluated the
    # full cosine (3 O(d) aggregate passes; Catalyst cannot CSE across HOF
    # lambdas). With norms per side, each reference costs one dot pass:
    # ~15 → ~5 aggregates per pair. denom = na*nb is the identical product,
    # so the scores are bit-identical (oracle row unchanged).
    a = cand.select(
        F.col("id").alias("src"),
        F.col("type").alias("type_a"),
        F.col("timestamp").alias("ts_a"),
        F.col("embedding").alias("emb_a"),
        norm_expr(F.col("embedding")).alias("_norm_a"),
    )
    b = cand.select(
        F.col("id").alias("dst"),
        F.col("type").alias("type_b"),
        F.col("timestamp").alias("ts_b"),
        F.col("embedding").alias("emb_b"),
        norm_expr(F.col("embedding")).alias("_norm_b"),
    )
    # explicit broadcast: the candidate frame is bounded (importance/id
    # gates above), and the non-equi join otherwise degrades to a
    # CartesianProduct with |a|x|b| partitions when the filtered-slice
    # size ESTIMATE exceeds the auto-broadcast threshold (stats ignore
    # pushed-filter selectivity — measured on the C3 row at sf30).
    pairs = a.join(F.broadcast(b), F.col("src") < F.col("dst"))
    # drop pairs already connected (either direction)
    existing = existing_edges.select("src", "dst").unionByName(
        existing_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pairs = pairs.join(existing, ["src", "dst"], "left_anti")

    _denom = F.col("_norm_a") * F.col("_norm_b")
    sim = F.when(_denom == 0.0, F.lit(0.0)).otherwise(
        dot_expr(F.col("emb_a"), F.col("emb_b")) / _denom
    )
    dt_days = F.abs(F.col("ts_a").cast("double") - F.col("ts_b").cast("double")) / 86400.0
    both_insight_pattern = (
        F.col("type_a").isin("Insight", "Pattern")
        & F.col("type_b").isin("Insight", "Pattern")
    )
    rule = (
        F.when(
            (F.col("type_a") == "Decision") & (F.col("type_b") == "Decision") & (sim < 0.3),
            F.struct(
                F.lit("CONTRADICTS").alias("rel_type"),
                F.lit(None).cast("string").alias("kind"),
                F.lit(0.6).alias("confidence"),
            ),
        )
        .when(
            both_insight_pattern & (sim > 0.5),
            F.struct(
                F.lit("DISCOVERED").alias("rel_type"),
                F.lit("explains").alias("kind"),
                F.lit(0.7).alias("confidence"),
            ),
        )
        .when(
            (sim > 0.7) & (F.col("type_a") != F.col("type_b")),
            F.struct(
                F.lit("DISCOVERED").alias("rel_type"),
                F.lit("shares_theme").alias("kind"),
                sim.alias("confidence"),
            ),
        )
        .when(
            (dt_days < 7.0) & (sim < 0.4),
            F.struct(
                F.lit("DISCOVERED").alias("rel_type"),
                F.lit("parallel_context").alias("kind"),
                F.lit(0.5).alias("confidence"),
            ),
        )
    )
    return (
        pairs.withColumn("rule", rule)
        .filter(F.col("rule").isNotNull())
        .select(
            "src",
            "dst",
            F.col("rule.rel_type").alias("rel_type"),
            F.col("rule.kind").alias("kind"),
            F.round(F.col("rule.confidence"), 6).alias("confidence"),
        )
    )


def cluster_summaries(
    pairs: DataFrame,
    nodes: DataFrame,
    memories: DataFrame,
    *,
    min_members: int = 3,
) -> DataFrame:
    """C3: connected components -> clusters with >= min_members members;
    per cluster the dominant type (mode, alphabetic tiebreak), member count,
    and time span in days (consolidation.py:457-617).

    Output: (component, n_members, dominant_type, span_days).
    """
    labels = connected_components(pairs, nodes)
    joined = labels.join(
        memories.select("id", "type", "timestamp"), "id"
    )
    sizes = joined.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.round(
            (F.max(F.col("timestamp").cast("double")) - F.min(F.col("timestamp").cast("double")))
            / 86400.0,
            6,
        ).alias("span_days"),
    ).filter(F.col("n_members") >= min_members)
    type_counts = joined.groupBy("component", "type").agg(F.count("*").alias("tc"))
    dominant = top_k_per_group(
        type_counts, ["component"], [F.desc("tc"), F.asc("type")], 1
    ).select("component", F.col("type").alias("dominant_type"))
    return sizes.join(dominant, "component").select(
        "component", "n_members", "dominant_type", "span_days"
    )


def decay_stats(
    memories: DataFrame,
    *,
    now: str,
    rel_count: Column | None = None,
    importance_threshold: float | None = None,
) -> DataFrame:
    """A8 decay-pass rollup (consolidation.py:1023-1115): recompute decay
    relevance over the non-archived corpus and return the run statistics the
    reference reports — processed count, avg relevance before/after, and the
    high/medium/low/archive distribution.

    The reference loops row-by-row with a per-row graph write; the batch
    form is one scan + one aggregate (map-side partials, single reducer row).
    `old_score` reads relevance_score when the corpus carries one (falsy ->
    0.5, the reference default), else 0.5 flat.
    """
    pool = memories.filter(F.coalesce(F.col("archived"), F.lit(False)) == False)  # noqa: E712
    if importance_threshold is not None:
        pool = pool.filter(
            F.col("importance").isNotNull()
            & (F.col("importance") >= importance_threshold)
        )
    rel = decay_relevance_expr(
        timestamp=F.col("timestamp"),
        last_accessed=_last_accessed(memories),
        importance=F.col("importance"),
        confidence=F.col("confidence"),
        rel_count=rel_count if rel_count is not None else F.lit(0),
        now=F.lit(now).cast("timestamp"),
    )
    if "relevance_score" in pool.columns:
        old = F.when(
            F.col("relevance_score").isNull() | (F.col("relevance_score") == 0.0),
            F.lit(0.5),
        ).otherwise(F.col("relevance_score").cast("double"))
    else:
        old = F.lit(0.5)
    scored = pool.select(old.alias("_old"), rel.alias("_new"))
    return scored.agg(
        F.count("*").alias("processed"),
        # order-independent means (functions/detmath.py): float AVG's
        # partial-aggregation order flips the rounded last digit at scale
        us_mean(F.col("_old"), 6).alias("avg_relevance_before"),
        us_mean(F.col("_new"), 6).alias("avg_relevance_after"),
        F.sum((F.col("_new") > 0.7).cast("long")).alias("n_high"),
        F.sum(((F.col("_new") > 0.3) & (F.col("_new") <= 0.7)).cast("long")).alias("n_medium"),
        F.sum(((F.col("_new") > 0.1) & (F.col("_new") <= 0.3)).cast("long")).alias("n_low"),
        F.sum((F.col("_new") <= 0.1).cast("long")).alias("n_archive"),
    )
