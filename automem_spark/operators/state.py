"""Bitemporal "current state" layer.

Reference counterparts (SURVEY.md §2.2 F8, §2.4 J4/J5):
- F8 payload state reason: archived / t_valid>now (not_yet_valid) /
  t_invalid<=now (expired)                        automem/api/recall.py:437-449
- J5 current-state filter + replacement injection automem/api/recall.py:596-723
  (replacement = supersession chain head from J4, injected as
  match_type='state_replacement' carrying the suppressed row's score,
  deduped against ids already in the result set, and required to be active)

Scale notes: `results` is a bounded candidate set (<= limit + expansions),
so it goes to the driver once and every corpus touch below is a
literal-id filter keyed off it, pushed into the `memories` or `edges`
scan: no corpus-derived frame is broadcast or shuffled, and the result
comes back as a literal frame (`plans/literal.py`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from automem_spark.plans.literal import collect_rows, id_in, literal_frame, spark_sorted


def state_reason_expr(
    archived: Column,
    t_valid: Column,
    t_invalid: Column,
    now: Column,
) -> Column:
    """F8 (recall.py:437-449) — evaluation order matters: archived wins,
    then not-yet-valid, then expired; NULL means active."""
    return (
        F.when(F.coalesce(archived, F.lit(False)), F.lit("archived"))
        .when(t_valid.isNotNull() & (t_valid > now), F.lit("not_yet_valid"))
        .when(t_invalid.isNotNull() & (t_invalid <= now), F.lit("expired"))
    )


def current_state_filter(
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

    The walk starts from the result ids on the driver. Each hop is one
    literal-id filter on the supersession `edges`, collected, and one
    literal-id read of the targets' state (the first read also carries the
    candidates' state, importance and timestamp); it stops on an empty
    frontier or after `SUPERSESSION_MAX_HOPS` hops and follows
    `graph.chase_heads`. Annotation, suppression, injection and ranking run
    on the driver in Spark's order.

    results: (id, match_type, match_score, final_score, ...)
    memories: must carry (id, archived, t_valid, t_invalid, importance, timestamp)
    edges: graph edges with (src, dst, rel_type, updated_at_epoch)

    Output: (id, match_type, state_replaces, final_score, position), a
    literal frame in position order.
    """
    from automem_spark.operators.graph import (
        SUPERSESSION_MAX_HOPS,
        SUPERSESSION_TYPES,
        chase_heads,
    )

    spark = results.sparkSession
    res = results.select("id", "match_type", score_col)
    rows = collect_rows(res)
    state = memories.select(
        "id",
        state_reason_expr(
            F.col("archived"), F.col("t_valid"), F.col("t_invalid"),
            F.lit(now).cast("timestamp"),
        ).alias("state_reason"),
        F.col("importance").alias("_imp"),
        F.col("timestamp").alias("_ts"),
    )
    info: dict = {}  # id -> [(id, state_reason, _imp, _ts)], one per memory row
    read_ids: set = set()

    def read(ids: set) -> None:
        ids = ids - read_ids
        if ids:
            read_ids.update(ids)
            for m in collect_rows(state.filter(id_in("id", ids))):
                info.setdefault(m[0], []).append(m)

    cand = {r[0] for r in rows if r[0] is not None}
    sup = edges.filter(F.col("rel_type").isin(*SUPERSESSION_TYPES))
    step: dict = {}
    frontier, walked = cand, set()
    for _ in range(SUPERSESSION_MAX_HOPS):
        if not frontier:
            break
        hits = (
            sup.filter(id_in("src", frontier))
            .select("src", "dst", "updated_at_epoch")
            .collect()
        )
        walked |= frontier
        read(cand | {d for _, d, _ in hits if d is not None})
        # newest edge per source whose target is active
        for src, dst, _ in spark_sorted(hits, [(2, False), (1, False)]):
            if any(m[1] is None for m in info.get(dst, ())):
                step[src] = dst
        frontier = {step[s] for s in frontier if s in step} - walked
    heads = {s: head for s, head, _ in chase_heads(step, cand, SUPERSESSION_MAX_HOPS)}

    seen = {r[0] for r in rows}
    kept, injected = [], []
    for rid, match_type, score in rows:
        head = heads.get(rid)
        for m in info.get(rid) or [None]:
            reason = m[1] if m is not None else None
            if reason is None and head is None:
                kept.append((rid, match_type, None, score))
            elif head is not None and head not in seen:
                injected.append((head, "state_replacement", rid, score))
    # a head may replace several suppressed rows: keep the highest carried
    # score (first-wins in the reference's insertion order = score order)
    first: dict = {}
    for row in spark_sorted(injected, [(3, True), (2, False)]):
        first.setdefault(row[0], row)
    ranked = spark_sorted(
        [
            (*row, *(m[2:] if m is not None else (None, None)))
            for row in kept + list(first.values())
            for m in info.get(row[0]) or [None]
        ],
        [(3, True), (4, True), (5, True), (0, False)],
    )
    id_type = res.schema["id"].dataType
    fields = [
        res.schema["id"],
        res.schema["match_type"],
        StructField("state_replaces", id_type),
        res.schema[score_col],
    ]
    if keep_order_cols:
        # callers (recall_full) reuse these for downstream re-ranks instead
        # of re-hydrating from the corpus
        fields += [
            StructField("importance", state.schema["_imp"].dataType),
            StructField("timestamp", state.schema["_ts"].dataType),
        ]
    out = [
        (*row[:4], *(row[4:] if keep_order_cols else ()), pos)
        for pos, row in enumerate(ranked, 1)
    ]
    return literal_frame(
        spark, out, StructType([*fields, StructField("position", IntegerType())])
    )
