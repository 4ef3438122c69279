"""Channel-union reference twin of hybrid recall.

The engine's `automem_spark.operators.recall.recall` scores every channel in
one pass over the candidate pool and ranks only the rows that can still
win. This module keeps the earlier formulation, one DataFrame subtree per
channel, written step by step from the reference
(automem/api/recall.py:1939-2149), so the tests can pin the engine's rows
and order equal to it (tests/test_recall_oracle.py):

- the vector channel: exact cosine top-k' over the pool;
- the keyword channel (or the trending fallback), over the pool minus the
  vector ids, cut to the slots the vector rows left open;
- the metadata channel;
- their union, the hybrid score, `min_score`, `dedup_results` and the
  final sort.

It is a test oracle only: no engine module imports it. It returns the
memory columns the pool carries, `embedding` included.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from automem_spark.functions.scoring import hybrid_score_sql_spark, token_array_sql
from automem_spark.functions.text import extract_keywords
from automem_spark.operators.recall import (
    RECALL_OVERFETCH_CAP,
    RECALL_VECTOR_OVERFETCH,
    RecallRequest,
    base_filter,
    dedup_results,
    effective_sort,
    keyword_channel,
    trending_channel,
)


def vector_channel(
    pool: DataFrame,
    query_vector: list[float] | None,
    limit: int,
    embedding_col: str = "embedding",
) -> DataFrame:
    """Vector top-K (R1) with over-fetch for re-ranking (R2): fetch
    max(limit, min(limit × 4, 200)) — the outer max matches the reference's
    clamp (recall.py:1967-1971) so requests with limit > 200 still fetch at
    least `limit` candidates. Exact brute-force cosine in double precision,
    with the two norms bound as DataFrame-level aliases (the engine's
    single-pass recall binds them the same way)."""
    if query_vector is None:
        return None  # type: ignore[return-value]
    k = max(limit, min(limit * RECALL_VECTOR_OVERFETCH, RECALL_OVERFETCH_CAP))
    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    from automem_spark.functions.vector import dot_expr, norm_expr

    denom = F.col("_vec_ne") * F.col("_vec_nq")
    return (
        pool.withColumn("_vec_ne", norm_expr(F.col(embedding_col)))
        .withColumn("_vec_nq", norm_expr(qv))
        .withColumn(
            "match_score",
            F.when(denom == 0.0, F.lit(0.0)).otherwise(
                dot_expr(F.col(embedding_col), qv) / denom
            ),
        )
        .drop("_vec_ne", "_vec_nq")
        .orderBy(F.desc("match_score"), F.asc("id"))
        .limit(k)
        .withColumn("match_type", F.lit("vector"))
    )


def recall(
    memories: DataFrame,
    req: RecallRequest,
    *,
    query_vector: list[float] | None = None,
    now: str = "2026-06-01 00:00:00",
) -> DataFrame:
    """Single-query recall as a union of per-channel subtrees; same
    contract as the engine's `recall()`."""
    req = replace(req, sort=effective_sort(req, has_vector=query_vector is not None))
    pool = base_filter(memories, req)
    tokens = extract_keywords(req.query.strip().lower())

    channels: list[DataFrame] = []
    vec: DataFrame | None = None
    if query_vector is not None and "embedding" in memories.columns:
        vec = vector_channel(pool, query_vector, req.limit)
        channels.append(vec)
    normalized = req.query.strip().lower()
    if normalized and normalized != "*":
        meta_field_names = [
            f for f in ("source", "repo", "project", "tool", "provider", "model")
            if f in pool.columns
        ]
        if vec is None:
            channels.append(keyword_channel(pool, req.query, req.limit))
        else:
            # Keyword channel fills only the slots vector results left open:
            # remaining = max(0, limit - |vector results|), with vector ids
            # excluded before the cut (recall.py:1999-2013).
            kw_pool = pool.join(vec.select("id"), "id", "left_anti")
            kw = keyword_channel(kw_pool, req.query, req.limit)
            n_vec = vec.select(F.count("*").alias("_n_vec"))
            w_kw = Window.orderBy(
                F.desc("match_score"), F.desc("importance"),
                F.desc("timestamp"), F.asc("id"),
            )
            kw = (
                kw.withColumn("_kw_rank", F.row_number().over(w_kw))
                .crossJoin(F.broadcast(n_vec))
                .filter(
                    F.col("_kw_rank")
                    <= F.greatest(F.lit(req.limit) - F.col("_n_vec"), F.lit(0))
                )
                .drop("_kw_rank", "_n_vec")
            )
            channels.append(kw)
        # metadata sidecar (R5) when the corpus carries whitelisted scalar
        # metadata fields (recall.py:2015-2040)
        if meta_field_names and "metadata" in pool.columns:
            from automem_spark.operators.metadata_search import metadata_channel

            channels.append(
                metadata_channel(pool, req.query, req.limit, meta_field_names)
            )
    else:
        channels.append(trending_channel(pool, req.limit))

    candidates = channels[0]
    for ch in channels[1:]:
        candidates = candidates.unionByName(ch)

    scored = candidates.withColumn(
        "final_score",
        F.expr(hybrid_score_sql_spark(token_array_sql(tokens), now, req.weights)),
    )
    if req.min_score is not None:
        scored = scored.filter(F.col("final_score") >= req.min_score)  # F9
    deduped = dedup_results(scored)

    if req.sort == "time_desc":
        ordering = [F.desc("timestamp"), F.asc("id")]
    elif req.sort == "time_asc":
        ordering = [F.asc("timestamp"), F.asc("id")]
    else:
        ordering = [
            F.desc("final_score"),
            F.desc("match_score"),
            F.desc("importance"),
            F.desc("timestamp"),
            F.asc("id"),
        ]
    return deduped.orderBy(*ordering).limit(req.limit)
