"""DataFrame reference twin of the J5 current-state filter.

The engine's `automem_spark.operators.state.current_state_filter` takes
the bounded result set to the driver, walks supersession hop by hop from
those ids through literal-id filters, and annotates, suppresses, injects
and ranks on the driver. This module keeps the earlier formulation: the
activity-gated walk over the whole `edges` table (`gated_supersession`)
and a broadcast-joined DataFrame tail, so tests/test_literal_paths.py can
pin the engine's rows equal to it.

It is a test oracle only: no engine module imports it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from automem_spark.operators.graph import resolve_supersession
from automem_spark.operators.state import state_reason_expr


def gated_supersession(edges: DataFrame, node_state: DataFrame) -> DataFrame:
    """J4 with the activity gate of _query_state_replacements
    (recall.py:452-520): each hop considers only edges whose TARGET is
    active in `node_state` (id, state_reason IS NULL), falling back to the
    next-newest edge otherwise; none active -> no replacement, so the walk
    stops at the last active node. Returns (start, head, hops)."""
    active_dst = node_state.filter(F.col("state_reason").isNull()).select(
        F.col("id").alias("dst")
    )
    # active_dst is a corpus-sized id projection — a semi join with a merge
    # hint keeps it off the broadcast path (local-mode AQE happily
    # broadcasts the whole corpus id column). Both sides shuffle on dst.
    return resolve_supersession(edges.join(active_dst.hint("merge"), "dst", "left_semi"))


def current_state_filter_oracle(
    results: DataFrame,
    memories: DataFrame,
    edges: DataFrame,
    *,
    now: str,
    score_col: str = "final_score",
    keep_order_cols: bool = False,
) -> DataFrame:
    """J5 (recall.py:596-723): suppress rows whose memory has a state reason
    or an active supersession replacement; inject the chain head as
    match_type='state_replacement' carrying the suppressed row's score.

    The supersession walk is activity-gated PER HOP, mirroring
    _query_state_replacements (recall.py:452-520): at each hop the
    newest-first edge scan skips targets that are themselves
    archived/expired/not-yet-valid, so an inactive newest replacement falls
    back to the next-newest edge and the walk stops at the last active node.
    A source whose every replacement candidate is inactive has NO
    replacement — it is not marked superseded (it may still be suppressed by
    its own state reason, with nothing injected).

    results: (id, match_type, match_score, final_score, ...)
    memories: must carry (id, archived, t_valid, t_invalid, importance, timestamp)
    edges: graph edges with (src, dst, rel_type, updated_at_epoch)

    Output: (id, match_type, state_replaces, final_score, position).
    """
    now_col = F.lit(now).cast("timestamp")
    # Corpus-wide (id, state_reason) stays un-broadcast: it feeds the
    # supersession walk's per-hop activity gate, which must see every node
    # on a chain (heads can lie outside the candidate set).
    state = memories.select(
        "id",
        state_reason_expr(
            F.col("archived"), F.col("t_valid"), F.col("t_invalid"), now_col
        ).alias("state_reason"),
    )

    cand_ids = results.select("id").distinct()

    # per-hop activity gating means every returned head is active by
    # construction — no post-hoc head filter needed
    heads = gated_supersession(edges, state)
    heads_cand = (
        heads.select(F.col("start").alias("id"), F.col("head"))
        .join(F.broadcast(cand_ids), "id", "left_semi")
    )

    # every memory row we will ever need: the candidates themselves plus
    # their (bounded) replacement heads — semi-join pushes the broadcast
    # candidate set into the corpus scan, so only bounded rows come back
    needed_ids = cand_ids.unionByName(
        heads_cand.select(F.col("head").alias("id"))
    ).distinct()
    mem_info = (
        memories.select(
            "id",
            state_reason_expr(
                F.col("archived"), F.col("t_valid"), F.col("t_invalid"), now_col
            ).alias("state_reason"),
            F.col("importance").alias("_imp"),
            F.col("timestamp").alias("_ts"),
        )
        .join(F.broadcast(needed_ids), "id", "left_semi")
    )

    annotated = (
        results.join(F.broadcast(mem_info.select("id", "state_reason")), "id", "left")
        .join(F.broadcast(heads_cand), "id", "left")
        .withColumn(
            "_reason",
            F.coalesce(
                F.col("state_reason"),
                F.when(F.col("head").isNotNull(), F.lit("superseded")),
            ),
        )
    )

    kept = annotated.filter(F.col("_reason").isNull()).select(
        "id",
        "match_type",
        F.lit(None).cast(annotated.schema["id"].dataType).alias("state_replaces"),
        F.col(score_col),
    )

    seen = results.select(F.col("id").alias("head"))
    injected = (
        annotated.filter(F.col("_reason").isNotNull() & F.col("head").isNotNull())
        .join(F.broadcast(seen), "head", "left_anti")
        .select(
            F.col("head").alias("id"),
            F.lit("state_replacement").alias("match_type"),
            F.col("id").alias("state_replaces"),
            F.col(score_col),
        )
    )
    # a head may replace several suppressed rows: keep the highest carried
    # score (first-wins in the reference's insertion order = score order)
    w_head = Window.partitionBy("id").orderBy(F.desc(score_col), F.asc("state_replaces"))
    injected = (
        injected.withColumn("_rn", F.row_number().over(w_head))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    out = kept.unionByName(injected)
    w = Window.partitionBy(F.lit(1)).orderBy(
        F.desc(score_col), F.desc("_imp"), F.desc("_ts"), F.asc("id")
    )
    ranked = (
        out.join(F.broadcast(mem_info.select("id", "_imp", "_ts")), "id", "left")
        .withColumn("position", F.row_number().over(w))
    )
    if keep_order_cols:
        # callers (recall_full) reuse these for downstream re-ranks instead
        # of re-hydrating from the corpus
        return ranked.withColumnRenamed("_imp", "importance").withColumnRenamed(
            "_ts", "timestamp"
        )
    return ranked.drop("_imp", "_ts")
