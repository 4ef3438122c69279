"""DataFrame reference twin of J2 relation expansion.

The engine's `automem_spark.operators.graph.expand_relations` takes the
bounded seed set to the driver, reads the incident edges and the targets
through literal-id filters and applies the per-seed and global caps there.
This module keeps the earlier formulation, one DataFrame program (an
undirected edge union joined to the seeds, a semi-bounded target read, a
per-seed window and a global sort), so tests/test_literal_paths.py can pin
the engine's rows equal to it.

It is a test oracle only: no engine module imports it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automem_spark.operators.graph import edge_strength_expr
from automem_spark.operators.topk import top_k_per_group


def expand_relations_oracle(
    seeds: DataFrame,
    edges: DataFrame,
    memories: DataFrame,
    *,
    min_strength: float = 0.0,
    min_importance: float = 0.0,
    per_seed: int = 5,
    total: int = 25,
    seed_id: str = "id",
    seed_score: str = "final_score",
) -> DataFrame:
    """J2: 1-hop undirected expansion from seed results (recall.py:1498-1700).

    relation_score = strength + 0.25 * seed_score; targets must pass the
    excluded-type/archived filters and the strength/importance thresholds;
    per-seed cap then a global cap, both by relation_score."""
    s = seeds.select(
        F.col(seed_id).alias("seed_id"), F.col(seed_score).alias("seed_score")
    )
    und = edges.select(
        "src", "dst", "rel_type", edge_strength_expr().alias("strength")
    ).unionByName(
        edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "rel_type",
            edge_strength_expr().alias("strength"),
        )
    )
    hops = s.join(und, s.seed_id == und.src).filter(F.col("strength") >= min_strength)
    # The hop-target set is bounded (edges incident to <= |seeds| nodes), the
    # memories side is the corpus: semi-bound the corpus scan by the target
    # ids and broadcast only the bounded projection back — never the corpus
    # itself (local-mode AQE would happily broadcast the whole id column).
    dst_ids = hops.select("dst").distinct()
    tgt = memories.select(
        F.col("id").alias("dst"),
        F.col("importance").alias("_imp"),
        F.col("archived").alias("_arch"),
        F.col("type").alias("_type"),
    ).join(F.broadcast(dst_ids), "dst", "left_semi")
    hops = (
        hops.join(F.broadcast(tgt), "dst")
        .filter(F.coalesce(F.col("_arch"), F.lit(False)) == False)  # noqa: E712
        .filter(F.col("_type") != "MetaPattern")
        .filter(F.col("_imp") >= min_importance)
        .filter(F.col("dst") != F.col("seed_id"))
    )
    # exclude targets that are themselves seeds (reference dedups vs seen ids)
    hops = hops.join(
        s.select(F.col("seed_id").alias("dst")), "dst", "left_anti"
    )
    scored = hops.withColumn(
        "relation_score", F.col("strength") + 0.25 * F.col("seed_score")
    )
    per = top_k_per_group(
        scored.select("seed_id", "dst", "rel_type", "strength", "relation_score"),
        ["seed_id"],
        [F.desc("relation_score"), F.asc("dst"), F.asc("rel_type")],
        per_seed,
    )
    return (
        per.orderBy(F.desc("relation_score"), F.asc("seed_id"), F.asc("dst"), F.asc("rel_type"))
        .limit(total)
    )
