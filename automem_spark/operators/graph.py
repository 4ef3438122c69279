"""Graph-layer operators: the reference's Cypher traversals as self-joins on
the `edges` DataFrame.

Reference counterparts (SURVEY.md §2.4):
- J1  relations fetch (top-5 per memory)      automem/search/runtime_relations.py:21-76
- J2  relation expansion (1 hop, undirected)  automem/api/recall.py:1498-1700
- J4  supersession chain resolution (≤5 hops) automem/api/recall.py:452-593
- J6  related-memories BFS (≤3 hops)          automem/api/recall.py:2893-2997
- J12 sync-drift anti-join                    automem/sync/runtime_worker.py:53-104
- A5  preference ranking                      automem/api/recall.py:2791-2806
- A6  graph stats                             automem/api/graph.py:366-458
- C3  connected components (clustering)       consolidation.py:457-617

Each bounded walk has one physical strategy. Supersession chains (one
newest edge per source) and connected components (thresholded candidate
pairs) gather their small graph into one task and walk it there: a pointer
chase and a min-label union-find. The BFS keeps its frontier on the driver
as a set of ids and runs one literal-id filter on `edges` per depth. None of
them launches a job while the plan is built, except the BFS's one collect
per depth.

The request-path operators (J2 expansion, J6 BFS, J7 neighbours) work on
sets bounded by the request: each such set goes to the driver once and
comes back as a literal frame (`plans/literal.py`). They run no
checkpoint and no Python worker.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from automem_spark.functions.detmath import us_mean
from automem_spark.operators.topk import top_k_per_group
from automem_spark.plans.checkpoint import maybe_checkpoint
from automem_spark.plans.literal import id_in, literal_frame, spark_key, spark_sorted

# State-suppressing relations (recall.py:82), followed at most this far
# (recall.py:452-593).
SUPERSESSION_TYPES = ("INVALIDATED_BY", "EVOLVED_INTO")
SUPERSESSION_MAX_HOPS = 5

# Legacy DISCOVERED aliases (config.py:244-248, :420-469).
LEGACY_DISCOVERED = {
    "EXPLAINS": "explains",
    "SHARES_THEME": "shares_theme",
    "PARALLEL_CONTEXT": "parallel_context",
}


def edge_strength_expr(
    strength: Column | None = None,
    score: Column | None = None,
    confidence: Column | None = None,
    similarity: Column | None = None,
    cnt: Column | None = None,
) -> Column:
    """The canonical strength read: coalesce(strength, score, confidence,
    similarity, toFloat(count), 0.0) (runtime_relations.py:35-42)."""
    return F.coalesce(
        (strength if strength is not None else F.col("strength")).cast("double"),
        (score if score is not None else F.col("score")).cast("double"),
        (confidence if confidence is not None else F.col("confidence")).cast("double"),
        (similarity if similarity is not None else F.col("similarity")).cast("double"),
        (cnt if cnt is not None else F.col("cnt")).cast("double"),
        F.lit(0.0),
    )


def canonical_rel_type_expr(rel_type: Column, kind: Column) -> Column:
    """Legacy EXPLAINS/SHARES_THEME/PARALLEL_CONTEXT -> DISCOVERED with the
    matching `kind` (config.py:420-469). Returns struct(rel_type, kind)."""
    mapping = F.create_map(
        *[x for kv in LEGACY_DISCOVERED.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    legacy_kind = F.element_at(mapping, rel_type)
    return F.struct(
        F.when(legacy_kind.isNotNull(), F.lit("DISCOVERED")).otherwise(rel_type).alias("rel_type"),
        F.when(legacy_kind.isNotNull(), legacy_kind).otherwise(kind).alias("kind"),
    )


def relations_fetch(
    edges: DataFrame,
    memories: DataFrame,
    k: int = 5,
    *,
    mem_id: str = "id",
    mem_ts: str = "timestamp",
) -> DataFrame:
    """J1: top-k outgoing edges per memory, ordered by
    coalesce(edge.updated_at, target.timestamp) DESC (runtime_relations.py:21-76).

    Output: (src, dst, rel_type, strength, rank)."""
    tgt = memories.select(
        F.col(mem_id).alias("dst"), F.col(mem_ts).cast("double").alias("_tgt_epoch")
    )
    joined = edges.join(tgt, "dst").withColumn(
        "order_key",
        F.coalesce(F.col("updated_at_epoch").cast("double"), F.col("_tgt_epoch")),
    )
    canon = canonical_rel_type_expr(F.col("rel_type"), F.col("kind"))
    out = joined.select(
        "src",
        "dst",
        canon["rel_type"].alias("rel_type"),
        edge_strength_expr().alias("strength"),
        "order_key",
    )
    return top_k_per_group(
        out,
        ["src"],
        [F.desc("order_key"), F.asc("dst"), F.asc("rel_type")],
        k,
        rank_col="rank",
        keep_rank=True,
    ).drop("order_key")


def expand_relations(
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
    excluded-type/archived filters and the strength/importance thresholds
    and must not be seeds themselves; per-seed cap then a global cap, both
    by relation_score.

    The seed set is bounded, so it goes to the driver once. The edges
    incident to a seed come back through one literal-id filter (it pushes
    into the `edges` scan), the targets' importance, archived and type
    through one literal-id read of `memories`, and the caps run on the
    driver. Building the result runs those collects; it is a literal frame.

    Output: (seed_id, dst, rel_type, strength, relation_score)."""
    spark = edges.sparkSession
    schema = StructType(
        [
            StructField("seed_id", seeds.schema[seed_id].dataType),
            StructField("dst", edges.schema["dst"].dataType),
            StructField("rel_type", edges.schema["rel_type"].dataType),
            StructField("strength", DoubleType()),
            StructField("relation_score", DoubleType()),
        ]
    )
    s_rows = seeds.select(seed_id, seed_score).collect()
    seed_ids = {s for s, _ in s_rows if s is not None}
    if not seed_ids:
        return literal_frame(spark, [], schema)
    hits = (
        edges.filter(id_in("src", seed_ids) | id_in("dst", seed_ids))
        .select("src", "dst", "rel_type", edge_strength_expr().alias("strength"))
        .collect()
    )
    floor = spark_key(min_strength)
    hops: dict = {}  # seed id -> [(target, rel_type, strength)]
    for src, dst, rel_type, strength in hits:
        if spark_key(strength) < floor:
            continue
        for a, b in ((src, dst), (dst, src)):
            if a in seed_ids and b is not None and b not in seed_ids:
                hops.setdefault(a, []).append((b, rel_type, strength))
    targets: dict = {}
    if hops:
        dst_ids = {b for h in hops.values() for b, _, _ in h}
        for t in (
            memories.filter(id_in("id", dst_ids))
            .select("id", "importance", "archived", "type")
            .collect()
        ):
            targets.setdefault(t.id, []).append(t)

    def eligible(t) -> bool:
        return (
            not t.archived
            and t.type is not None
            and t.type != "MetaPattern"
            and t.importance is not None
            and spark_key(t.importance) >= spark_key(min_importance)
        )

    scored = [
        (s, b, rel_type, strength, None if score is None else strength + 0.25 * score)
        for s, score in s_rows
        for b, rel_type, strength in hops.get(s, ())
        for t in targets.get(b, ())
        if eligible(t)
    ]
    per: dict = {}
    for row in spark_sorted(scored, [(4, True), (1, False), (2, False)]):
        per.setdefault(row[0], []).append(row)
    capped = [row for rows in per.values() for row in rows[:per_seed]]
    out = spark_sorted(capped, [(4, True), (0, False), (1, False), (2, False)])
    return literal_frame(spark, out[:total], schema)


def chase_heads(step: dict, starts, max_hops: int) -> list[tuple]:
    """Follow cur -> nxt pointers from each start up to max_hops, stopping
    at a missing (or NaN) pointer or a node the walk already visited.
    Returns (start, head, hops) for every start that moved. The one walk
    rule of J4: `resolve_supersession` runs it in one task, the
    current-state filter on the driver."""
    out = []
    for start in starts:
        head, hops, seen = start, 0, {start}
        for _ in range(max_hops):
            nxt_id = step.get(head)
            if nxt_id is None or nxt_id != nxt_id or nxt_id in seen:
                break
            head = nxt_id
            hops += 1
            seen.add(nxt_id)
        if hops > 0:
            out.append((start, head, hops))
    return out


def _supersession_local_walk(nxt: DataFrame, max_hops: int) -> DataFrame:
    """Follow cur -> nxt pointers up to max_hops in one task
    (`chase_heads`). coalesce(1) narrows the frame behind the newest-edge
    window's shuffle, so the scan and the window's map side stay parallel;
    the iterator is drained fully before walking so the map sees every
    edge."""
    ctype = nxt.schema["cur"].dataType
    out_schema = StructType(
        [
            StructField("start", ctype),
            StructField("head", ctype),
            StructField("hops", IntegerType()),
        ]
    )

    def walk(batches):
        import pandas as pd

        step: dict = {}
        for pdf in batches:
            step.update(zip(pdf["cur"], pdf["nxt"]))
        yield pd.DataFrame(
            chase_heads(step, step, max_hops), columns=["start", "head", "hops"]
        )

    return nxt.coalesce(1).mapInPandas(walk, schema=out_schema)


def resolve_supersession(
    edges: DataFrame, *, max_hops: int = SUPERSESSION_MAX_HOPS
) -> DataFrame:
    """J4: walk INVALIDATED_BY/EVOLVED_INTO chains to their head, ≤max_hops,
    cycle-safe via a visited-set check (recall.py:452-593). The newest edge
    per source wins unconditionally (the raw chain resolution of the
    standalone J4 query; the current-state filter's activity-gated walk is
    `state.current_state_filter`).

    Returns (start, head, hops) for every node with an outgoing
    supersession edge. The corpus-sized work (the newest-edge-per-source
    window) is distributed; the bounded pointer chase over one row per
    superseded node runs in one task (`_supersession_local_walk`). Building
    the plan launches no job.
    """
    sup = edges.filter(F.col("rel_type").isin(*SUPERSESSION_TYPES))
    # newest edge per source (deterministic tiebreak on dst)
    nxt = top_k_per_group(
        sup.select("src", "dst", "updated_at_epoch"),
        ["src"],
        [F.desc("updated_at_epoch"), F.desc("dst")],
        1,
    ).select(F.col("src").alias("cur"), F.col("dst").alias("nxt"))
    return _supersession_local_walk(nxt, max_hops)


def related_memories_bfs(
    seed_ids: list[int],
    edges: DataFrame,
    memories: DataFrame,
    *,
    max_depth: int = 3,
    rel_types: tuple[str, ...] | None = None,
    limit: int = 200,
) -> DataFrame:
    """J6: variable-length undirected traversal, DISTINCT targets with min
    depth, ordered by importance DESC, ts DESC (recall.py:2893-2997).

    The frontier is bounded by the walk, not the corpus, so it stays on the
    driver as a set of ids: each depth is one literal-id filter on `edges`
    (it pushes into the scan) and one collect, and the walk stops as soon
    as the frontier is empty. The reached ids read their importance through
    a literal-id filter on `memories`, and only the top-`limit` rows come
    back as a literal frame, however many ids the walk reached.

    Output: (id, depth, importance rounded)."""
    e = edges
    if rel_types:
        e = e.filter(F.col("rel_type").isin(*rel_types))
    depth_of = {int(s): 0 for s in seed_ids}
    frontier = set(depth_of)
    for depth in range(1, max_depth + 1):
        if not frontier:
            break
        hits = (
            e.filter(id_in("src", frontier) | id_in("dst", frontier))
            .select("src", "dst")
            .collect()
        )
        nxt = {
            b
            for src, dst in hits
            for a, b in ((src, dst), (dst, src))
            if a in frontier and b is not None and b not in depth_of
        }
        depth_of.update(dict.fromkeys(nxt, depth))
        frontier = nxt
    reached = {i: d for i, d in depth_of.items() if d > 0}
    top = (
        memories.filter(id_in("id", reached))
        .orderBy(
            F.desc("importance"), F.desc(F.col("timestamp").cast("double")), F.asc("id")
        )
        .limit(limit)
        .select("id", F.round("importance", 6).alias("importance"))
        .collect()
    )
    return literal_frame(
        edges.sparkSession,
        [(i, reached[i], importance) for i, importance in top],
        StructType(
            [
                StructField("id", LongType()),
                StructField("depth", IntegerType()),
                StructField("importance", DoubleType()),
            ]
        ),
    )


def _cc_local_labels(und: DataFrame) -> DataFrame:
    """Single-task min-label union-find over the (already doubled,
    deduped) edge frame. coalesce(1) narrows the distinct's post-shuffle
    partitions into one task; mapInPandas accumulates every Arrow batch of
    that partition before emitting, so the union-find sees the whole edge
    set. Returns (id, component) for ENDPOINT nodes only — the caller fills
    in the singletons with a broadcast left join."""
    atype = und.schema["a"].dataType
    out_schema = StructType(
        [StructField("id", atype), StructField("component", atype)]
    )

    def uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["a"], pdf["b"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN label so every root IS the component id
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        ids = list(parent)
        yield pd.DataFrame({"id": ids, "component": [find(x) for x in ids]})

    return und.coalesce(1).mapInPandas(uf, schema=out_schema)


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    *,
    node_id: str = "id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """C3's clustering core: connected components (consolidation.py:559-586
    does a driver-side DFS).

    The candidate pairs are thresholded (cosine or LSH survivors), so the
    graph is small even when the node frame is not: one task runs a
    min-label union-find over the deduped undirected edges
    (`_cc_local_labels`), and the node frame fills in its singletons with a
    broadcast left join, so it never shuffles. The `distinct()` in front of
    that task is a shuffle on purpose: without it, coalesce(1) would squeeze
    the upstream pair computation into the same single task. Building the
    plan launches no job.

    Output: (id, component) where component = min node id in the component.

    Contract: every edge endpoint in `pairs` must appear in `nodes`
    (endpoints ⊆ nodes). All in-repo callers derive `pairs` from the node
    frame, so this always holds; a phantom endpoint is dropped, because the
    label join runs FROM the node frame.
    """
    und = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = _cc_local_labels(und.distinct())
    return (
        nodes.select(F.col(node_id).alias("id"))
        .join(F.broadcast(labels), "id", "left")
        .select("id", F.coalesce(F.col("component"), F.col("id")).alias("component"))
    )


def preference_ranking(edges: DataFrame, k: int = 10) -> DataFrame:
    """A5: PREFERS_OVER edges by strength DESC, top-k (recall.py:2791-2806)."""
    return (
        edges.filter(F.col("rel_type") == "PREFERS_OVER")
        .select("src", "dst", F.round(edge_strength_expr(), 6).alias("strength"))
        .orderBy(F.desc("strength"), F.asc("src"), F.asc("dst"))
        .limit(k)
    )


def graph_stats(edges: DataFrame) -> DataFrame:
    """A6: per-relationship-type counts + average strength, with legacy
    canonicalization applied (automem/api/graph.py:366-458)."""
    canon = canonical_rel_type_expr(F.col("rel_type"), F.col("kind"))
    return (
        edges.select(
            canon["rel_type"].alias("rel_type"),
            edge_strength_expr().alias("strength"),
        )
        .groupBy("rel_type")
        .agg(
            F.count("*").alias("n"),
            # order-independent mean (functions/detmath.py): float AVG's
            # partial order flips the rounded last digit at scale
            us_mean(F.col("strength"), 6).alias("avg_strength"),
        )
    )


def sync_drift(edges: DataFrame, memories: DataFrame) -> DataFrame:
    """J12: edges whose target is missing/archived — the graph<->vector drift
    anti-join (automem/sync/runtime_worker.py:53-104). Output (src, dst,
    rel_type) needing repair."""
    active = memories.filter(
        F.coalesce(F.col("archived"), F.lit(False)) == False  # noqa: E712
    ).select(F.col("id").alias("dst"))
    return edges.join(active, "dst", "left_anti").select("src", "dst", "rel_type")


def graph_snapshot(
    memories: DataFrame,
    edges: DataFrame,
    *,
    limit: int = 500,
    min_importance: float = 0.0,
    types: tuple[str, ...] | None = None,
    since: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """S9: graph snapshot export for the viewer (automem/api/graph.py:51-208).

    Nodes: memories passing the importance/type/since filters, top-`limit`
    by (importance DESC, timestamp DESC) — id tiebreak added for
    determinism. Visual properties mirror the reference: radius
    0.5 + importance * 1.5, opacity 0.4 + confidence * 0.6.
    Edges: the induced subgraph (both endpoints selected), rel_type
    canonicalized, strength read as coalesce(strength, 0.5) — the snapshot
    endpoint's read, NOT the J1 coalesce chain.

    Scale shape: the node set is bounded by `limit`, so both endpoint
    memberships are broadcast semi-joins against the full edge set — no
    corpus-side shuffle.
    """
    nodes = memories.filter(F.col("importance") >= min_importance)
    if types:
        nodes = nodes.filter(F.col("type").isin(*types))
    if since is not None:
        nodes = nodes.filter(F.col("timestamp") >= F.lit(since).cast("timestamp"))
    nodes = (
        nodes.orderBy(F.desc("importance"), F.desc("timestamp"), F.asc("id"))
        .limit(limit)
        .select(
            "id",
            "type",
            "importance",
            "confidence",
            (0.5 + F.col("importance") * 1.5).alias("radius"),
            (0.4 + F.col("confidence") * 0.6).alias("opacity"),
        )
    )
    nodes = maybe_checkpoint(nodes)
    ids = nodes.select("id")
    induced = edges.join(
        F.broadcast(ids.withColumnRenamed("id", "src")), "src", "left_semi"
    ).join(F.broadcast(ids.withColumnRenamed("id", "dst")), "dst", "left_semi")
    canon = canonical_rel_type_expr(F.col("rel_type"), F.col("kind"))
    out_edges = induced.select(
        F.col("src").alias("source"),
        F.col("dst").alias("target"),
        canon["rel_type"].alias("rel_type"),
        F.coalesce(F.col("strength").cast("double"), F.lit(0.5)).alias("strength"),
    )
    return nodes, out_edges


def graph_neighbors(
    center_id: int,
    edges: DataFrame,
    memories: DataFrame,
    embeddings: DataFrame | None = None,
    *,
    depth: int = 1,
    semantic_limit: int = 5,
    graph_limit: int = 100,
) -> DataFrame:
    """J7: viewer neighbors — undirected BFS union semantic neighbors
    (automem/api/graph.py:210-364).

    Graph rows: nodes within `depth` hops (min depth, center excluded,
    capped at `graph_limit`). Semantic rows: the top-(semantic_limit+1)
    cosine neighbors of the center's embedding, minus the center and any
    node already seen via the graph — the reference filters seen hits
    without refilling, so fewer than `semantic_limit` rows can remain.

    Both working sets are bounded, so they go through the driver: the BFS
    (`related_memories_bfs`), then the centre vector and its top-(k+1),
    scored by recall()'s SQL cosine (`cosine_to_query_sql`, sim DESC, id
    ASC) and returned as a literal frame. Building the plan runs one
    collect per BFS depth plus three; no Python worker starts.

    Output: (id, source 'graph'|'semantic', depth [-1 for semantic],
    sim [-1.0 for graph], importance). Sentinels instead of NULLs keep the
    cross-engine hash well-defined.
    """
    bfs = related_memories_bfs(
        [center_id], edges, memories, max_depth=depth, limit=graph_limit
    )
    graph_part = bfs.select(
        "id",
        F.lit("graph").alias("source"),
        F.col("depth").cast("bigint").alias("depth"),
        F.lit(-1.0).alias("sim"),
        "importance",
    )
    if embeddings is None:
        return graph_part
    center = embeddings.filter(F.col("vec_id") == center_id).select("embedding").collect()
    if not center:
        return graph_part
    from automem_spark.functions.vector import cosine_to_query_sql

    bind, score = cosine_to_query_sql("`embedding`", [float(x) for x in center[0][0]])
    top = (
        embeddings.filter(F.col("embedding").isNotNull())
        .selectExpr("vec_id AS id", "`embedding`", bind)
        .selectExpr("id", f"{score} AS sim")
        .orderBy(F.desc("sim"), F.asc("id"))
        .limit(semantic_limit + 1)
        .collect()
    )
    hits = [(i, sim) for i, sim in top if i is not None and i != center_id]
    sem = literal_frame(
        edges.sparkSession,
        hits,
        StructType([StructField("id", LongType()), StructField("sim", DoubleType())]),
    )
    sem = sem.join(bfs.select("id"), "id", "left_anti").join(
        memories.filter(id_in("id", [i for i, _ in hits])).select("id", "importance"),
        "id",
    )
    sem_part = sem.select(
        "id",
        F.lit("semantic").alias("source"),
        F.lit(-1).cast("bigint").alias("depth"),
        F.round("sim", 5).alias("sim"),
        F.round("importance", 6).alias("importance"),
    )
    return graph_part.unionByName(sem_part)
