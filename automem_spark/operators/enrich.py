"""ST2: the composed enrichment pipeline — one job from raw memories to
enriched memories.

Reference: ``automem/enrichment/runtime_orchestration.py:165-315``
(``enrich_memory``). Every stored memory flows through this DAG:

    classify (U3) -> extract entities (U2) -> entity tags -> tag_prefixes
    (X12) -> temporal links (J13) -> patterns (A7) -> semantic neighbors
    (J14) -> summary (X18) -> write-back flags

The reference runs it one memory at a time off a queue; the Spark-first
shape is one batch program where each stage is a column expression or a
bounded join, composed over a single corpus scan:

- classify + summary: pure column expressions (whole-stage codegen).
- entity extraction: one scan + regex explode + per-id collect (shuffle
  keyed on id, combiner-sized payload).
- temporal links: as-of range join partitioned by a grouping key — an
  equi-join with range residual, never a corpus-wide window.
- semantic neighbors: the exact cosine threshold self-join over the
  window's embeddings (one broadcast nested-loop join).
- patterns: explode + two-level aggregate; the per-type top-term table is
  at most |types| rows and is broadcast back.

All stage outputs re-join the classified corpus on ``id`` — at scale these
are co-partitioned hash joins on the same key, so the whole pipeline is one
scan + one id-shuffle + the neighbor join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automem_spark.functions.tags import tag_prefixes_expr
from automem_spark.functions.text import first_sentence_summary_expr
from automem_spark.operators.asof import preceding_within_window
from automem_spark.operators.enrichment import (
    detect_patterns_batch,
)
from automem_spark.operators.entity_extract import extract_entities
from automem_spark.operators.similarity import cosine_threshold_self_join
from automem_spark.plans.checkpoint import maybe_checkpoint
from automem_spark.plans.parallelism import ensure_parallelism

def _empty_tags():
    return F.array().cast("array<string>")


def enrich_pipeline(
    mem: DataFrame,
    embeddings: DataFrame | None = None,
    *,
    temporal_partition: str = "source",
    window_days: float = 7.0,
    max_temporal: int = 3,
    neighbor_threshold: float = 0.25,
    max_neighbors: int = 5,
    pattern_min_members: int = 4,
    pattern_min_confidence: float = 0.5,
) -> DataFrame:
    """Run the full enrichment DAG over a memories corpus.

    ``mem`` needs columns ``id, content, tags, timestamp`` plus the
    ``temporal_partition`` column. ``embeddings`` (``vec_id, embedding``)
    enables the semantic-neighbor stage; pass None to skip it (n_neighbors
    0), matching the reference's behavior when Qdrant is unavailable.

    Output, one row per input memory:
    ``id, mem_type, cls_confidence, summary, entity_tags (sorted array),
    tags_enriched (input tags + new entity tags), tag_prefixes,
    n_temporal (<= max_temporal), n_neighbors (<= max_neighbors),
    pattern_term (top A7 term for the memory's type), enriched (true)``.
    """
    mem = ensure_parallelism(mem)
    from automem_spark.operators.enrichment import classify_memory_fast

    cls = F.col("_cls")
    classified = classify_memory_fast(mem, F.col("content"), "_cls").select(
        "id",
        "content",
        "tags",
        "timestamp",
        temporal_partition,
        cls["type"].alias("mem_type"),
        cls["confidence"].alias("cls_confidence"),
    )
    # classified feeds the pattern aggregate AND the final projection; the
    # classifier is a ~50-regex CASE chain, so materialize it once.
    classified = maybe_checkpoint(classified)

    # U2: entity extraction -> per-memory sorted canonical tag set
    ents = extract_entities(mem.select("id", "content"))
    etags = ents.groupBy("id").agg(
        F.array_sort(F.collect_set("canonical_tag")).alias("entity_tags")
    )

    # J13: temporal links — newest `max_temporal` prior memories within the
    # window, same partition key (equi-join + range residual, no windows)
    prev = preceding_within_window(
        mem.select("id", "timestamp", temporal_partition),
        id_col="id",
        ts_col="timestamp",
        partition_cols=[temporal_partition],
        window_days=window_days,
        n_recent=max_temporal,
    )
    ntemp = prev.groupBy("id").agg(F.count("*").cast("bigint").alias("n_temporal"))

    # J14: semantic neighbors — count of cosine>=threshold peers, capped
    if embeddings is not None:
        emb = embeddings.join(
            mem.select(F.col("id").alias("vec_id")), "vec_id", "left_semi"
        )
        pairs = cosine_threshold_self_join(emb, neighbor_threshold, item_id="vec_id")
        und = pairs.select(F.col("src").alias("id")).unionAll(
            pairs.select(F.col("dst").alias("id"))
        )
        nneigh = und.groupBy("id").agg(
            F.least(F.lit(max_neighbors), F.count("*")).cast("bigint").alias("n_neighbors")
        )
    else:
        nneigh = None

    # A7: per-type dominant pattern term (tiny table -> broadcast back)
    pats = detect_patterns_batch(
        classified,
        content_col="content",
        type_col="mem_type",
        confidence_col="cls_confidence",
        min_members=pattern_min_members,
        min_confidence=pattern_min_confidence,
        top_terms=1,
    )
    top_terms = pats.select("mem_type", F.col("term").alias("pattern_term"))

    out = classified.join(etags, "id", "left")
    out = out.join(ntemp, "id", "left")
    if nneigh is not None:
        out = out.join(nneigh, "id", "left")
    else:
        out = out.withColumn("n_neighbors", F.lit(None).cast("bigint"))
    out = out.join(F.broadcast(top_terms), "mem_type", "left")

    entity_tags = F.coalesce(F.col("entity_tags"), _empty_tags())
    # reference dedup: tags + sorted(entity_tags), first occurrence wins
    # (runtime_orchestration.py:215-235)
    tags_enriched = F.concat(
        F.col("tags"),
        F.filter(entity_tags, lambda t: ~F.array_contains(F.col("tags"), t)),
    )
    return out.select(
        "id",
        "mem_type",
        "cls_confidence",
        first_sentence_summary_expr(F.col("content")).alias("summary"),
        entity_tags.alias("entity_tags"),
        tags_enriched.alias("tags_enriched"),
        tag_prefixes_expr(tags_enriched).alias("tag_prefixes"),
        F.coalesce(F.col("n_temporal"), F.lit(0).cast("bigint")).alias("n_temporal"),
        F.coalesce(F.col("n_neighbors"), F.lit(0).cast("bigint")).alias("n_neighbors"),
        "pattern_term",
        F.lit(True).alias("enriched"),
    )
