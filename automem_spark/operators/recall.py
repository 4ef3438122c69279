"""Hybrid recall — the reference's flagship read query re-expressed as one
DataFrame program.

Reference lifecycle (automem/api/recall.py:1703-2611, SURVEY.md §3.1):
multi-channel candidate retrieval (vector ANN + keyword CONTAINS + metadata
sidecar + tag-only) → hybrid linear re-score → filters → dedup → sort → top-k.

Spark design: `recall()` scans `base_filter`'s pool once. One projection
scores every row for every channel (cosine, keyword CASE sum, metadata
scorer) and drops the embedding; each channel keeps its top rows per input
partition, the survivors are ranked globally, and each memory a channel
returns becomes one (match_type, match_score) row. Dedup keeps the
highest-priority channel per id (vector > keyword > metadata > tag — the
reference's seen-id ordering, recall.py:1956-2062), then one score
expression re-ranks. The program is Spark-SQL text parsed by a few
`selectExpr`s; the only Python is per-query keyword extraction on the
driver.

Scale notes: nothing is cached. A request reads its pool once, shuffles it
once by input partition and ranks at most parts × (k' + limit + 10) rows
globally; filters are pushed to the parquet scan, and the final sort is a
top-k (TakeOrderedAndProject), never a full sort. The channel-union form
(one subtree per channel) is kept as a test oracle in
tests/recall_oracle.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automem_spark.functions.scoring import (
    DEFAULT_WEIGHTS,
    Weights,
    hybrid_score_sql_spark,
    token_array_sql,
)
from automem_spark.functions.tags import exclude_tags_expr, tag_filter_expr
from automem_spark.functions.text import extract_keywords, fingerprint_fold_sql_spark
from automem_spark.plans.checkpoint import maybe_checkpoint
from automem_spark.plans.literal import collect_rows, literal_frame, sql_str

# Channel precedence for cross-channel dedup (vector beats keyword beats
# metadata beats tag/trending — recall.py:1956-2062).
CHANNEL_PRIORITY = {"vector": 4, "keyword": 3, "metadata": 2, "tag": 1, "trending": 1}

# Internal artifact types never surfaced (automem/config.py:164-166).
EXCLUDED_TYPES = ("MetaPattern",)

RECALL_VECTOR_OVERFETCH = 4  # config.py:150-159
RECALL_OVERFETCH_CAP = 200


@dataclass
class RecallRequest:
    query: str = ""
    limit: int = 5
    tags: list[str] = field(default_factory=list)
    exclude_tags: list[str] = field(default_factory=list)
    tag_mode: str = "any"
    tag_match: str = "prefix"
    start: str | None = None  # ISO timestamps
    end: str | None = None
    min_score: float | None = None
    sort: str = "score"  # score | time_desc | time_asc
    weights: Weights = DEFAULT_WEIGHTS


def effective_sort(req: RecallRequest, *, has_vector: bool = False) -> str:
    """W3 implicit time_desc (automem/api/recall.py:1784-1792): a
    time-bounded browse with no relevance signal (no query text, no
    embedding) is chronology, not ranking — default to newest-first unless
    the caller chose an explicit sort."""
    if (
        req.sort == "score"
        and not req.query.strip()
        and not has_vector
        and (req.start or req.end)
    ):
        return "time_desc"
    return req.sort


def base_filter(
    memories: DataFrame,
    req: RecallRequest,
    *,
    tags_col: str = "tags",
) -> DataFrame:
    """Shared candidate-pool predicates applied on every channel
    (archived F7, excluded types F6, time window F5, tag filters F1-F3).
    Applied once, before the channels fan out, so Catalyst pushes them into
    a single parquet scan."""
    out = memories.filter(F.coalesce(F.col("archived"), F.lit(False)) == False)  # noqa: E712
    out = out.filter(~F.coalesce(F.col("type"), F.lit("")).isin(*EXCLUDED_TYPES))
    if req.start:
        out = out.filter(F.col("timestamp") >= F.lit(req.start).cast("timestamp"))
    if req.end:
        out = out.filter(F.col("timestamp") <= F.lit(req.end).cast("timestamp"))
    if req.tags:
        out = out.filter(
            tag_filter_expr(
                F.col(tags_col), req.tags, mode=req.tag_mode, match=req.tag_match
            )
        )
    if req.exclude_tags:
        out = out.filter(exclude_tags_expr(F.col(tags_col), req.exclude_tags))
    return out


def _keyword_raw_score_sql(keywords: list[str], phrase: str) -> str:
    """The R3 per-keyword CASE sum as SQL text — one F.expr instead of
    ~0.25s of py4j tree calls per query (emitted from the shared scorer
    spec; the DuckDB oracle twin comes from the same generator family).
    Bit-identical to the Column tree; pinned in
    tests/test_hybrid_score_fast.py."""
    from automem_spark.functions.scorespec import keyword_raw_score_sql_spark

    return keyword_raw_score_sql_spark(keywords, phrase, sql_str)


def keyword_channel(pool: DataFrame, query: str, limit: int) -> DataFrame:
    """Graph keyword search (R3, runtime_recall_helpers.py:595-724).

    Per keyword: +2 if content CONTAINS kw, +1 if any tag CONTAINS kw; plus
    whole-phrase bonus (+2 content / +1 tag); normalized by 3*|kw| + 3;
    score > 0; ORDER BY score DESC, importance DESC, timestamp DESC LIMIT k.
    Implemented as a sum of CASE expressions — no explode, no shuffle until
    the final top-k — generated as SQL text and parsed with one F.expr.
    """
    normalized = query.strip().lower()
    keywords = extract_keywords(normalized)
    phrase = normalized if len(normalized) >= 3 else ""
    if not keywords and not phrase:
        return trending_channel(pool, limit)

    max_raw = 3 * len(keywords) + (3 if phrase else 0)
    out = (
        pool.withColumn("raw_score", F.expr(_keyword_raw_score_sql(keywords, phrase)))
        .filter(F.col("raw_score") > 0)
        .withColumn(
            "match_score", F.least(F.lit(1.0), F.col("raw_score") / F.lit(float(max_raw)))
        )
        .withColumn("match_type", F.lit("keyword"))
        # id ASC appended to the reference's (score, importance, ts) ordering
        # purely as a deterministic tiebreak at the LIMIT boundary.
        .orderBy(F.desc("raw_score"), F.desc("importance"), F.desc("timestamp"), F.asc("id"))
        .limit(limit)
        .drop("raw_score")
    )
    return out


def trending_channel(pool: DataFrame, limit: int) -> DataFrame:
    """Empty/'*' query fallback: importance DESC, timestamp DESC
    (runtime_recall_helpers.py:524-592). score = importance."""
    return (
        pool.orderBy(F.desc("importance"), F.desc("timestamp"), F.asc("id"))
        .limit(limit)
        .withColumn("match_score", F.col("importance").cast("double"))
        .withColumn("match_type", F.lit("trending"))
    )


def recall_many_hybrid(
    memories: DataFrame,
    queries: list[tuple[str, str]],
    limit: int,
    *,
    query_vectors: dict[str, list[float]] | None = None,
    meta_fields: list[str] | None = None,
    now: str = "2026-06-01 00:00:00",
    w: Weights = DEFAULT_WEIGHTS,
) -> DataFrame:
    """R10/R11 multi-query recall with ALL channels — vector, keyword, and
    metadata — so multi-query ≡ N× single-query recall semantics
    (recall.py:1939-2149 per sub-query). One corpus pass for N queries.

    Channel semantics per query, mirroring recall():
    - vector: cosine top-k' (overfetch ×4 capped at 200, recall.py:1967-1971)
    - keyword: fills only max(0, limit - |vector|) remaining slots, with
      vector ids excluded from the keyword pool first (recall.py:1999-2013)
    - metadata: sidecar scorer, ≤ min(limit, 10) slots (recall.py:2015-2040)
    Channel precedence on overlap: vector > keyword > metadata, applied as
    one CASE (the union+dedup of the single-query path collapses to this).
    The X2 gating rules apply per row: the vector/metadata components count
    only for rows matched by that channel; the keyword component falls back
    to content-token overlap for non-keyword matches.

    The per-query metadata scorer is driver-specialized (requested-field
    parse, value tokens), so it enters the plan as a CASE keyed on query_id
    — still a single corpus scan, no per-query jobs.

    Scale shape: NO per-query corpus-wide window anywhere. The vector
    channel is the similarity.py partial-top-k contract (per-partition
    NumPy matmul + heap, shuffle O(parts × Q × k)); keyword and metadata
    rank only match-bounded eligible rows through a two-stage
    (group × partition)-then-group top-k; the final rank runs over ≤
    (k + limit + 10) candidates per query. Candidate frames are broadcast
    back against the corpus for hydration, never the reverse.

    Output: (query_id, id, match_type, match_score, final_score, rank).
    """
    from automem_spark.operators.similarity import cosine_topk_mapinpandas
    from automem_spark.operators.topk import partial_top_k_per_group

    spark = memories.sparkSession
    vecs = query_vectors or {}
    rows = []
    for qid, text in queries:
        normalized = text.strip().lower()
        toks = extract_keywords(normalized)
        phrase = normalized if len(normalized) >= 3 else ""
        rows.append((qid, toks, phrase, 3 * len(toks) + (3 if phrase else 0)))
    qdf = F.broadcast(
        spark.createDataFrame(
            rows,
            "query_id string, tokens array<string>, phrase string, max_raw int",
        )
    )

    pool = base_filter(memories, RecallRequest())

    # --- vector channel (R1/R2): partial top-k per partition ---
    k = max(limit, min(limit * RECALL_VECTOR_OVERFETCH, RECALL_OVERFETCH_CAP))
    qmat = [
        (qid, [float(x) for x in vecs[qid]])
        for qid, _ in queries
        if vecs.get(qid) is not None
    ]
    if qmat and "embedding" in memories.columns:
        winners = cosine_topk_mapinpandas(pool, qmat, k)
    else:
        winners = spark.createDataFrame([], "query_id string, id long, sim double")
    # Q×k rows feeding three consumers (vector candidates, keyword slot
    # counts, precedence anti-joins) — materialize once instead of
    # recomputing the corpus matmul per consumer.
    winners = maybe_checkpoint(winners)
    n_vec = winners.groupBy("query_id").agg(F.count("*").alias("_n_vec"))

    # r14: bind lowered content/tags once per corpus row BEFORE the query
    # cross join. Inline, both subtrees sat in the kw_raw lambda bodies and
    # re-evaluated per (row × query × token) — lambda bodies re-run per
    # element and Catalyst does not CSE across HOF lambdas.
    j = pool.withColumn(
        "_kw_content", F.lower(F.coalesce(F.col("content"), F.lit("")))
    ).withColumn(
        "_kw_tags",
        F.transform(F.coalesce(F.col("tags"), F.array()), lambda t: F.lower(t)),
    ).crossJoin(qdf)
    content = F.col("_kw_content")
    tags_l = F.col("_kw_tags")

    # --- keyword channel (R3), remaining-slot gated ---
    kw_raw = F.aggregate(
        F.col("tokens"),
        F.lit(0),
        lambda acc, kw: acc
        + F.when(content.contains(kw), F.lit(2)).otherwise(F.lit(0))
        + F.when(F.exists(tags_l, lambda t: t.contains(kw)), F.lit(1)).otherwise(F.lit(0)),
    )
    phrase_bonus = F.when(
        (F.col("phrase") != "") & content.contains(F.col("phrase")), F.lit(2)
    ).otherwise(F.lit(0)) + F.when(
        (F.col("phrase") != "") & F.exists(tags_l, lambda t: t.contains(F.col("phrase"))),
        F.lit(1),
    ).otherwise(F.lit(0))
    kw_elig = (
        j.withColumn("raw_score", (kw_raw + phrase_bonus).cast("double"))
        .filter(F.col("raw_score") > 0)
        .select("query_id", "id", "raw_score", "max_raw", "importance", "timestamp")
        .join(
            F.broadcast(winners.select("query_id", "id")),
            ["query_id", "id"],
            "left_anti",
        )
    )
    kw_top = partial_top_k_per_group(
        kw_elig,
        ["query_id"],
        [F.desc("raw_score"), F.desc("importance"), F.desc("timestamp"), F.asc("id")],
        limit,
        rank_col="_kwrank",
        keep_rank=True,
    )
    kw_sel = kw_top.join(F.broadcast(n_vec), "query_id", "left").filter(
        F.col("_kwrank")
        <= F.greatest(F.lit(limit) - F.coalesce(F.col("_n_vec"), F.lit(0)), F.lit(0))
    )

    # --- metadata sidecar channel (R5), per-query specialized scorer ---
    if meta_fields:
        from automem_spark.operators.metadata_search import metadata_score_expr_fast

        md_expr: Column | None = None
        for qid, text in queries:
            e = metadata_score_expr_fast(meta_fields, text)
            md_expr = (
                F.when(F.col("query_id") == qid, e)
                if md_expr is None
                else md_expr.when(F.col("query_id") == qid, e)
            )
        md = j.withColumn("_md", F.coalesce(md_expr, F.lit(0.0)))
    else:
        md = j.withColumn("_md", F.lit(0.0))
    md_elig = md.filter(F.col("_md") > 0).select(
        "query_id", "id", "_md", "importance", "timestamp"
    )
    # ranked against the full eligible set (slots are consumed by rows later
    # dropped for precedence — matching the single-query channel semantics)
    md_top = partial_top_k_per_group(
        md_elig,
        ["query_id"],
        [F.desc("_md"), F.desc("importance"), F.desc("timestamp"), F.asc("id")],
        min(limit, 10),
    )
    md_cand = md_top.join(
        F.broadcast(winners.select("query_id", "id")), ["query_id", "id"], "left_anti"
    ).join(
        F.broadcast(kw_sel.select("query_id", "id")), ["query_id", "id"], "left_anti"
    )

    # --- channel union with precedence (vector > keyword > metadata) ---
    cand = (
        winners.select(
            "query_id",
            "id",
            F.lit("vector").alias("match_type"),
            F.col("sim").alias("match_score"),
        )
        .unionByName(
            kw_sel.select(
                "query_id",
                "id",
                F.lit("keyword").alias("match_type"),
                F.least(
                    F.lit(1.0), F.col("raw_score") / F.col("max_raw").cast("double")
                ).alias("match_score"),
            )
        )
        .unionByName(
            md_cand.select(
                "query_id",
                "id",
                F.lit("metadata").alias("match_type"),
                F.col("_md").alias("match_score"),
            )
        )
    )

    # --- hydrate doc columns for the blend: candidates are bounded, so they
    # broadcast back against the corpus (never the reverse) ---
    cand = (
        pool.select("id", "content", "tags", "importance", "confidence", "timestamp")
        .join(F.broadcast(cand), "id")
        .join(qdf, "query_id")
    )
    # --- X1/X2 hybrid blend over each query's own token array ---
    cand = cand.withColumn(
        "final_score", F.expr(hybrid_score_sql_spark("`tokens`", now, w))
    )

    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("final_score"), F.desc("match_score"), F.desc("importance"),
        F.desc("timestamp"), F.asc("id"),
    )
    return (
        cand.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= limit)
        .select("query_id", "id", "match_type", "match_score", "final_score", "rank")
    )


def recall_with_scope_fallback(
    memories: DataFrame,
    req: RecallRequest,
    *,
    now: str = "2026-06-01 00:00:00",
) -> DataFrame:
    """SO4 scope fallback (recall.py:772-914, :2399-2432): when a tag-scoped
    query returns fewer than `limit` rows, fill the remainder with UNSCOPED
    results — appended after the scoped block, never interleaved, and rows
    that match the scope (in-scope candidates) are refused from the fallback
    pool. Output adds `in_scope` and a stable `position`.
    """
    scoped = recall(memories, req, now=now).withColumn("in_scope", F.lit(True))
    unscoped_req = replace(req, tags=[])
    fallback_pool = memories.filter(
        ~tag_filter_expr(F.col("tags"), req.tags, mode=req.tag_mode, match=req.tag_match)
    )
    fills = (
        recall(fallback_pool, unscoped_req, now=now)
        .join(scoped.select("id"), "id", "left_anti")
        .withColumn("in_scope", F.lit(False))
    )
    w_scoped = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("in_scope"),
        F.desc("final_score"),
        F.desc("match_score"),
        F.desc("importance"),
        F.desc("timestamp"),
        F.asc("id"),
    )
    return (
        scoped.unionByName(fills)
        .withColumn("position", F.row_number().over(w_scoped))
        .filter(F.col("position") <= req.limit)
    )


def inject_priority_ids(
    results: DataFrame,
    memories: DataFrame,
    priority_ids: list,
    *,
    limit: int,
    now: str = "2026-06-01 00:00:00",
) -> DataFrame:
    """J11 priority-id injection (recall.py:1094-1312): explicitly requested
    ids are fetched (archived still excluded), appended as
    match_type='priority_id' if absent, and the final ordering guarantees
    they come first (anchor ordering), then score order."""
    wanted = memories.filter(
        F.col("id").isin(*priority_ids)
        & (F.coalesce(F.col("archived"), F.lit(False)) == False)  # noqa: E712
    )
    injected = (
        wanted.join(results.select("id"), "id", "left_anti")
        .withColumn("match_type", F.lit("priority_id"))
        .withColumn("match_score", F.lit(0.0))
        .withColumn("final_score", F.lit(0.0))
    )
    combined = results.unionByName(
        injected.select(*results.columns), allowMissingColumns=False
    )
    is_priority = F.col("id").isin(*priority_ids).cast("int")
    w = Window.partitionBy(F.lit(1)).orderBy(
        F.desc(is_priority),
        F.desc("final_score"),
        F.desc("match_score"),
        F.desc("importance"),
        F.desc("timestamp"),
        F.asc("id"),
    )
    return (
        combined.withColumn("position", F.row_number().over(w))
        .filter(F.col("position") <= limit)
    )


def adaptive_score_floor(
    results: DataFrame,
    *,
    score_col: str = "final_score",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """F10 (recall.py:2355-2375), faithful semantics:

    Only when n > 3. Sort scores desc; halfway = max(3, n//2); find the
    largest positive gap scores[i-1]-scores[i] for i in [1, halfway)
    (first occurrence wins). If max_gap > 0.25*scores[0], the floor is the
    score BELOW the gap and rows with score >= floor survive — applied only
    if at least (n+1)//2 rows survive.

    Window shape: rank + lag over the (optionally per-query) candidate set —
    candidate sets are bounded (overfetch cap 200), so the window is cheap.
    """
    part = partition_cols or []
    w = Window.partitionBy(*part).orderBy(F.desc(score_col), F.asc("id"))
    wall = Window.partitionBy(*part)
    s = F.col(score_col)
    step1 = (
        results.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wall))
        .withColumn("_top", F.max(score_col).over(wall))
        .withColumn("_gap", F.lag(score_col).over(w) - s)
    )
    halfway = F.greatest(F.lit(3), F.floor(F.col("_n") / 2))
    # gaps at 1-indexed positions i in [2, halfway] (list index 1..halfway-1)
    step2 = step1.withColumn(
        "_cand_gap",
        F.when((F.col("_rn") >= 2) & (F.col("_rn") <= halfway) & (F.col("_gap") > 0), F.col("_gap")),
    )
    step3 = step2.withColumn("_max_gap", F.max("_cand_gap").over(wall))
    step4 = step3.withColumn(
        "_gap_rank",
        F.min(F.when(F.col("_cand_gap") == F.col("_max_gap"), F.col("_rn"))).over(wall),
    )
    step5 = step4.withColumn(
        "_floor", F.max(F.when(F.col("_rn") == F.col("_gap_rank"), s)).over(wall)
    )
    step6 = step5.withColumn(
        "_retained", F.sum(F.when(s >= F.col("_floor"), 1).otherwise(0)).over(wall)
    )
    applies = (
        (F.col("_n") > 3)
        & F.col("_max_gap").isNotNull()
        & (F.col("_max_gap") > 0.25 * F.col("_top"))
        & (F.col("_retained") >= F.floor((F.col("_n") + 1) / 2))
    )
    return (
        step6.filter(~F.coalesce(applies, F.lit(False)) | (s >= F.col("_floor")))
        .drop("_rn", "_n", "_top", "_gap", "_cand_gap", "_max_gap", "_gap_rank", "_floor", "_retained")
    )


def recency_rerank(
    results: DataFrame,
    *,
    score_col: str = "final_score",
    ts_col: str = "timestamp",
    weight: float = 0.1,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """W5 (recall.py:2315-2349): min-max normalize timestamps over the
    current candidate set and add weight × rel_recency to the score."""
    part = partition_cols or []
    wall = Window.partitionBy(*part)
    epoch = F.col(ts_col).cast("double")
    tmin = F.min(epoch).over(wall)
    tmax = F.max(epoch).over(wall)
    rel = F.when(tmax > tmin, (epoch - tmin) / (tmax - tmin)).otherwise(F.lit(0.0))
    return results.withColumn(score_col, F.col(score_col) + F.lit(weight) * rel)


# dedup_results' two key expressions as static SQL text (one F.expr each
# instead of ~0.2s of py4j tree calls per query). The fp let-binding also
# evaluates the 5-regex fingerprint chain once per row where the Column
# twin (fingerprint_expr's when/otherwise) inlined it twice. Equivalence
# with the Column forms is pinned in tests/test_hybrid_score_fast.py.
# R7 dedup key: memory id, falling back to the X9 content fingerprint
# (fold emitted from the shared FINGERPRINT_STEPS spec in functions/text.py;
# `fp` let-binding evaluates the fold once for the empty-string check).
_DEDUP_KEY_SQL = (
    "coalesce(CAST(`id` AS STRING), element_at(transform(array("
    + fingerprint_fold_sql_spark("`content`")
    + "), fp ->"
    " CASE WHEN fp = '' THEN CAST(NULL AS STRING) ELSE fp END), 1))"
)
_CHANNEL_PRIORITY_SQL = (
    "CASE `match_type` "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in CHANNEL_PRIORITY.items())
    + " ELSE 0 END"
)


def dedup_results(results: DataFrame, score_col: str = "final_score") -> DataFrame:
    """Result dedup (R7, recall.py:310-389): bucket by id OR content
    fingerprint; keep the highest (channel_priority, score, timestamp) row.
    max_by over a struct replaces the reference's ordered-dict insertion."""
    keyed = results.withColumn("dedup_key", F.expr(_DEDUP_KEY_SQL)).withColumn(
        "channel_priority", F.expr(_CHANNEL_PRIORITY_SQL)
    )
    w = Window.partitionBy("dedup_key").orderBy(
        F.desc("channel_priority"), F.desc(score_col), F.desc("timestamp")
    )
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "dedup_key", "channel_priority")
    )


def recall_full(
    memories: DataFrame,
    edges: DataFrame,
    req: RecallRequest,
    *,
    priority_tags: list[str] | None = None,
    priority_types: list[str] | None = None,
    priority_ids: list | None = None,
    now: str = "2026-06-01 00:00:00",
) -> DataFrame:
    """The COMPLETE §3.1 recall composition as one DataFrame program
    (automem/api/recall.py:1703-2611) — every post-channel stage chained in
    the reference's order:

      channels (R3 keyword here; vector/metadata join via recall())      3b-3e
      → hybrid score X1/X2/X3 + X5 context bonus                         3f
      → dedup R7                                                         3g/4
      → J2 relation expansion + J3 entity expansion (SO3 concat)         5
      → J5 current-state filter + supersession head injection            6
      → W5 relative-recency re-rank                                      7
      → F10 adaptive score floor                                         8
      → J11 priority-id injection + first-position guarantee             (4h)

    Candidate precedence on the SO3 union mirrors the reference's seen-id
    insertion order: channel results win over relation expansions, which
    win over entity expansions (expansions are appended only for unseen
    ids, recall.py:2239-2297).

    Work shape: the corpus-wide work is the channel scan (filters pushed to
    the parquet scan) and the entity expansion's tag scan. Everything else
    operates on bounded sets (seeds ≤ limit, expansions ≤ 25 each), and
    each such set goes to the driver once: the seeds and the candidates are
    collected and come back as literal frames (`plans/literal.py`); the
    relation expansion and the current-state filter read `edges` and
    `memories` through literal-id filters pushed into the scan. Building
    the plan runs those collects; no checkpoint and no Python worker.

    Output: (id, match_type, position, final_score).
    """
    from automem_spark.functions.scoring import context_bonus_expr
    from automem_spark.operators.entities import entity_expand
    from automem_spark.operators.graph import expand_relations
    from automem_spark.operators.state import current_state_filter

    spark = memories.sparkSession
    pool = base_filter(memories, req)
    tokens = extract_keywords(req.query.strip().lower())

    # 3b-3f: keyword channel + hybrid score + X5 context bonus
    seeds = keyword_channel(pool, req.query, req.limit).withColumn(
        "final_score",
        F.expr(hybrid_score_sql_spark(token_array_sql(tokens), now, req.weights))
        + context_bonus_expr(
            tags=F.col("tags"),
            mem_type=F.col("type"),
            mem_id=F.col("id"),
            priority_tags=priority_tags,
            priority_types=priority_types,
            priority_ids=priority_ids,
            w=req.weights,
        ),
    )
    # R7 (id-unique already; fingerprint guard). The seed set is bounded and
    # fans out to three consumers (relation expansion, entity expansion, the
    # SO3 union) — collect it once instead of recomputing the channel scan
    # per branch.
    seeds = dedup_results(seeds).select(
        "id", "match_type", "match_score", "final_score", "tags"
    )
    seeds = literal_frame(spark, collect_rows(seeds), seeds.schema)

    # 5: J2 relation expansion + J3 entity expansion, appended for unseen ids
    rel = expand_relations(seeds, edges, memories).select(
        F.col("dst").alias("id"),
        F.lit("relation").alias("match_type"),
        F.lit(0.0).alias("match_score"),
        F.col("relation_score").alias("final_score"),
    )
    ent = entity_expand(seeds, memories, query_tokens=tokens, now=now).select(
        "id",
        F.lit("entity_expansion").alias("match_type"),
        F.lit(0.0).alias("match_score"),
        "final_score",
    )
    cand = (
        seeds.select("id", "match_type", "match_score", "final_score")
        .withColumn("_prio", F.lit(3))
        .unionByName(rel.withColumn("_prio", F.lit(2)))
        .unionByName(ent.withColumn("_prio", F.lit(1)))
    )
    w_id = Window.partitionBy("id").orderBy(
        F.desc("_prio"), F.desc("final_score"), F.asc("match_type")
    )
    # bounded (≤ limit + 2×25); fans out to the state filter (candidate ids,
    # annotation, seen-set) and the match_score rehydration — collect once
    cand = (
        cand.withColumn("_rn", F.row_number().over(w_id))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_prio")
    )
    cand = literal_frame(spark, collect_rows(cand), cand.schema)

    # 6: J5 bitemporal filter + supersession replacement injection.
    # keep_order_cols carries importance/timestamp out of the filter's own
    # bounded hydration — no corpus re-join (and no corpus broadcast) here.
    stated = current_state_filter(
        cand, memories, edges, now=now, keep_order_cols=True
    ).drop("position")
    # rehydrate channel match_score (injected heads were never candidates -> 0)
    hydrated = stated.join(
        F.broadcast(cand.select("id", "match_score")), "id", "left"
    ).withColumn("match_score", F.coalesce(F.col("match_score"), F.lit(0.0)))

    # 7: W5 relative recency; 8: F10 adaptive floor
    reranked = recency_rerank(hydrated)
    floored = adaptive_score_floor(reranked)

    # J11: priority-id injection + first-position guarantee
    if priority_ids:
        out = inject_priority_ids(
            floored.drop("state_replaces"), memories, priority_ids,
            limit=req.limit, now=now,
        )
    else:
        w_final = Window.partitionBy(F.lit(1)).orderBy(
            F.desc("final_score"), F.desc("match_score"),
            F.desc("importance"), F.desc("timestamp"), F.asc("id"),
        )
        out = (
            floored.drop("state_replaces")
            .withColumn("position", F.row_number().over(w_final))
            .filter(F.col("position") <= req.limit)
        )
    return out.select("id", "match_type", "position", "final_score")


@dataclass(frozen=True)
class _Channel:
    """One channel of the single-pass recall, as SQL text over the scored
    pool: `score` is its match_score, `order` the ranking, `eligible` the
    rows it may return, `keep` how many rows per input partition can still
    reach its cut, and `slots` the cut itself when it is not `keep`
    (evaluated over the survivors)."""

    match_type: str
    score: str
    order: str
    eligible: str
    keep: int
    slots: str = ""

    def ranking(self, partition: str = "") -> str:
        # eligible rows first, so a rank <= slots is a rank among them
        first = "" if self.eligible == "TRUE" else f"({self.eligible}) DESC, "
        return f"row_number() OVER ({partition}ORDER BY {first}{self.order})"


_BY_IMPORTANCE = "`importance` DESC, `timestamp` DESC, `id` ASC"


def recall(
    memories: DataFrame,
    req: RecallRequest,
    *,
    query_vector: list[float] | None = None,
    now: str = "2026-06-01 00:00:00",
) -> DataFrame:
    """End-to-end single-query recall (SURVEY.md §3.1 steps 3b-3g + 4).

    Returns (<memory cols except embedding>, match_score, match_type,
    final_score) sorted by the deterministic tiebreak W1: final_score DESC,
    match_score DESC, importance DESC, timestamp DESC, id ASC (or the
    request's time sort); LIMIT req.limit. One row per memory: a memory
    several channels return keeps its highest-priority channel.

    Channels (recall.py:1939-2040):
    - vector: cosine top-k', k' = max(limit, min(4·limit, 200));
    - keyword: the R3 CASE sum, top `limit` rows with a score > 0; with an
      empty, '*' or keyword-less query the trending order instead (an
      empty or '*' query also skips the metadata channel). With a query
      vector it fills only max(0, limit - |vector rows|) slots, from rows
      whose id is not a vector id;
    - metadata: the R5 sidecar scorer, top min(limit, 10) rows > 0.
    """
    from automem_spark.functions.vector import cosine_to_query_sql
    from automem_spark.operators.metadata_search import metadata_match_sql

    req = replace(req, sort=effective_sort(req, has_vector=query_vector is not None))
    pool = base_filter(memories, req)
    limit = req.limit
    normalized = req.query.strip().lower()
    tokens = extract_keywords(normalized)
    phrase = normalized if len(normalized) >= 3 else ""
    searched = normalized not in ("", "*")
    has_vector = query_vector is not None and "embedding" in pool.columns
    k = max(limit, min(limit * RECALL_VECTOR_OVERFETCH, RECALL_OVERFETCH_CAP))
    out_cols = [f"`{c}`" for c in pool.columns if c != "embedding"]

    binds = ["spark_partition_id() AS _pid"]
    scores: dict[str, str] = {}  # per-row channel scores, one scan
    channels: list[_Channel] = []
    if has_vector:
        # The oracle twin computes the same ne * nq product, so match_score
        # is bit-identical (tests/test_recall_oracle.py, golden rankings).
        bind, scores["_s_vector"] = cosine_to_query_sql("`embedding`", query_vector)
        binds.append(bind)
        channels.append(
            _Channel("vector", "_s_vector", "_s_vector DESC, `id` ASC", "TRUE", k)
        )
    if searched and (tokens or phrase):
        max_raw = 3 * len(tokens) + (3 if phrase else 0)
        scores["_s_keyword"] = _keyword_raw_score_sql(tokens, phrase)
        text = _Channel(
            "keyword",
            f"least(CAST(1.0 AS DOUBLE), _s_keyword / {float(max_raw)!r}D)",
            "_s_keyword DESC, " + _BY_IMPORTANCE,
            "_s_keyword > 0",
            limit,
        )
    else:
        text = _Channel(
            "trending", "CAST(`importance` AS DOUBLE)", _BY_IMPORTANCE, "TRUE", limit
        )
    if searched and has_vector:
        # The vector channel returns min(k', |pool|) >= min(limit, |pool|)
        # rows, so keyword slots open only when the whole pool is under
        # `limit` rows. Then every pool row is a vector row, and only rows
        # with a NULL id pass the reference's id anti-join. The survivors
        # hold every vector row, so least(k', |survivors|) = |vector rows|.
        text = replace(
            text,
            eligible=f"`id` IS NULL AND {text.eligible}",
            slots=f"greatest({limit} - least({k}, count(1) OVER ()), 0)",
        )
    channels.append(text)
    meta_fields = [
        f for f in ("source", "repo", "project", "tool", "provider", "model")
        if f in pool.columns
    ]
    meta = (
        metadata_match_sql(meta_fields, req.query)
        if searched and meta_fields and "metadata" in pool.columns
        else None
    )
    if meta is not None:
        scores["_s_metadata"] = meta
        channels.append(
            _Channel(
                "metadata", "_s_metadata", "_s_metadata DESC, " + _BY_IMPORTANCE,
                "_s_metadata > 0", min(limit, 10),
            )
        )

    # 1. One scan scores every channel; the embedding is dropped here.
    scanned = pool.selectExpr("*", *binds).selectExpr(
        *out_cols, "_pid", *(f"{sql} AS {name}" for name, sql in scores.items())
    )
    # 2. Keep each channel's top rows per input partition (the _pid/_prerank
    # two-stage top-k of operators/topk.py), then rank the survivors.
    survivors = scanned.selectExpr(
        "*",
        *(
            f"{c.ranking('PARTITION BY _pid ')} AS _prerank_{c.match_type}"
            for c in channels
        ),
    ).filter(
        " OR ".join(
            f"(({c.eligible}) AND _prerank_{c.match_type} <= {c.keep})" for c in channels
        )
    )
    ranked = survivors.selectExpr(
        *out_cols,
        *scores,
        *(f"{c.ranking()} AS _rank_{c.match_type}" for c in channels),
        *(f"{c.slots or c.keep} AS _slots_{c.match_type}" for c in channels),
    )
    # 3. One row per (memory, channel that returns it).
    matches = ", ".join(
        f"CASE WHEN ({c.eligible}) AND _rank_{c.match_type} <= _slots_{c.match_type}"
        f" THEN named_struct('match_score', {c.score}, 'match_type', '{c.match_type}')"
        " END"
        for c in channels
    )
    candidates = ranked.selectExpr(
        *out_cols, f"inline(filter(array({matches}), m -> m IS NOT NULL))"
    )

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
    return deduped.orderBy(*ordering).limit(limit)
