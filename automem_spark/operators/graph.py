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

All bounded traversals are driver loops of joins (fixed iteration counts,
localCheckpoint between rounds to cut lineage); connected components uses
min-label propagation. At 100 TB: edges hash-partitioned by src; each
iteration is one shuffle on the frontier, which shrinks geometrically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from automem_spark.functions.detmath import us_mean
from automem_spark.operators.topk import top_k_per_group
from automem_spark.plans.checkpoint import (
    CheckpointRotation,
    checkpointing_enabled,
    maybe_checkpoint,
)

# State-suppressing relations (recall.py:82).
SUPERSESSION_TYPES = ("INVALIDATED_BY", "EVOLVED_INTO")

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


# One supersession hop over (start, head, hops, path, nxt): advance when the
# next node exists and is not already on the visited path (cycle guard).
# `NOT (advance)` covers `done` exactly: nxt NULL -> advance is FALSE (not
# NULL: the AND short-circuits on `nxt IS NOT NULL`) -> done TRUE; nxt
# present -> done = contains(path, marker).
_SUP_ADVANCE = (
    "nxt IS NOT NULL"
    " AND NOT contains(path, concat('|', cast(nxt AS string), '|'))"
)
SUPERSESSION_ADVANCE_SQL = (
    "start",
    f"CASE WHEN {_SUP_ADVANCE} THEN nxt ELSE head END AS head",
    f"CASE WHEN {_SUP_ADVANCE} THEN hops + 1 ELSE hops END AS hops",
    f"CASE WHEN {_SUP_ADVANCE} THEN concat(path, cast(nxt AS string), '|')"
    " ELSE path END AS path",
    f"NOT ({_SUP_ADVANCE}) AS done",
)


def supersession_advance_columns(stepped: DataFrame) -> DataFrame:
    """Column-tree twin of SUPERSESSION_ADVANCE_SQL — kept ONLY as the
    equivalence reference for the SQL text (the hot path uses the text)."""
    marker = F.concat(F.lit("|"), F.col("nxt").cast("string"), F.lit("|"))
    adv = F.col("nxt").isNotNull() & ~F.col("path").contains(marker)
    return stepped.select(
        "start",
        F.when(adv, F.col("nxt")).otherwise(F.col("head")).alias("head"),
        F.when(adv, F.col("hops") + 1).otherwise(F.col("hops")).alias("hops"),
        F.when(adv, F.concat(F.col("path"), F.col("nxt").cast("string"), F.lit("|")))
        .otherwise(F.col("path"))
        .alias("path"),
        F.when(
            F.col("nxt").isNull() | F.col("path").contains(marker), F.lit(True)
        )
        .otherwise(F.lit(False))
        .alias("done"),
    )


#: Walk-count bound under which resolve_supersession runs the chain walk
#: as ONE task instead of max_hops checkpointed join rounds (r13 — the
#: same dispatch shape as CC_LOCAL_MAX_EDGES, gated on an exact count
#: that rides the `nxt` checkpoint's own observe job). `nxt` holds one
#: row per superseded node; 1M rows is a ~2M-entry dict walked in well
#: under a second in one executor core. The corpus-sized work — the
#: newest-edge-per-source window and the optional active-state semi-join
#: — stays distributed on BOTH paths; only the bounded pointer chase
#: changes strategy. Above the bound the join loop runs unchanged.
SUPERSESSION_LOCAL_MAX_WALKS = 1_000_000


def _supersession_local_walk(nxt: DataFrame, max_hops: int) -> DataFrame:
    """Single-task twin of the hop loop: follow cur -> nxt pointers up to
    max_hops with the same visited-set cycle guard. coalesce(1) narrows
    the checkpointed frame without a shuffle; the iterator is drained
    fully before walking so the map sees every edge."""
    from pyspark.sql.types import IntegerType, StructField, StructType

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
        starts, heads, hops_out = [], [], []
        for start in step:
            head, hops, seen = start, 0, {start}
            for _ in range(max_hops):
                nxt_id = step.get(head)
                if nxt_id is None or pd.isna(nxt_id) or nxt_id in seen:
                    break
                head = nxt_id
                hops += 1
                seen.add(nxt_id)
            if hops > 0:
                starts.append(start)
                heads.append(head)
                hops_out.append(hops)
        yield pd.DataFrame({"start": starts, "head": heads, "hops": hops_out})

    return nxt.coalesce(1).mapInPandas(walk, schema=out_schema)


def resolve_supersession(
    edges: DataFrame,
    *,
    max_hops: int = 5,
    node_state: DataFrame | None = None,
    local_max_walks: int | None = None,
) -> DataFrame:
    """J4: walk INVALIDATED_BY/EVOLVED_INTO chains to their head, ≤max_hops,
    cycle-safe via a visited-path check (recall.py:452-593).

    When ``node_state`` (id, state_reason) is given, each hop considers only
    edges whose TARGET is active (state_reason IS NULL), falling back to the
    next-newest edge otherwise — mirroring _query_state_replacements
    (recall.py:452-520): newest-first scan, first ACTIVE replacement wins;
    none active -> no replacement, so the walk stops at the last active
    node. Without it the walk is the raw chain resolution (newest edge wins
    unconditionally) used by the standalone J4 query.

    Returns (start, head, hops) for every node with a (qualifying) outgoing
    supersession edge. Driver loop of `max_hops` joins; the frontier shrinks
    every round (chains are short in practice), localCheckpoint truncates
    lineage. An open-walk count rides each round's checkpoint job as an
    `observe` metric (r11), so the loop exits as soon as every walk is done
    — chains are 1-2 hops in practice, which saves the tail rounds' whole
    frame materializations (sf0.1: 5 rounds → 2; the early exit is
    output-identical because a round with zero open walks is a no-op).
    """
    sup = edges.filter(F.col("rel_type").isin(*SUPERSESSION_TYPES))
    if node_state is not None:
        active_dst = node_state.filter(F.col("state_reason").isNull()).select(
            F.col("id").alias("dst")
        )
        # active_dst is a corpus-sized id projection — a semi join with a
        # merge hint keeps it off the broadcast path (local-mode AQE happily
        # broadcasts the whole corpus id column; at 100 TB that is the
        # broadcast-limit wall). Both sides shuffle on dst instead.
        sup = sup.join(active_dst.hint("merge"), "dst", "left_semi")
    # newest qualifying edge per source (deterministic tiebreak on dst)
    nxt = top_k_per_group(
        sup.select("src", "dst", "updated_at_epoch"),
        ["src"],
        [F.desc("updated_at_epoch"), F.desc("dst")],
        1,
    ).select(F.col("src").alias("cur"), F.col("dst").alias("nxt"))
    # observe-probe guard MUST be the checkpoint layer's own predicate
    # (an Observation on a plan the checkpoint skips blocks obs.get forever)
    fused_probe = checkpointing_enabled()
    if local_max_walks is None:
        local_max_walks = SUPERSESSION_LOCAL_MAX_WALKS
    if fused_probe:
        nxt_obs = Observation("sup_walks")
        nxt = nxt.observe(nxt_obs, F.count(F.lit(1)).alias("n"))
    nxt = maybe_checkpoint(nxt)
    n_walks = nxt_obs.get["n"] if fused_probe else nxt.count()
    if n_walks <= local_max_walks:
        return _supersession_local_walk(nxt, max_hops)
    rotation = CheckpointRotation()

    state = nxt.selectExpr(
        "cur AS start",
        "cur AS head",
        "0 AS hops",
        "concat('|', cast(cur AS string), '|') AS path",
        "false AS done",
    )
    for _hop in range(max_hops):
        stepped = (
            state.filter(~F.col("done"))
            .join(nxt, F.col("head") == F.col("cur"), "left")
            .select("start", "head", "hops", "path", "nxt")
        )
        # per-hop advance as SQL text (r12): the Column twin built ~50 py4j
        # trees per round (~0.2s/round of the row's 1.3s build tax); one
        # selectExpr call parses JVM-side. Pinned row-identical to the twin
        # by tests/test_graph.py::test_supersession_advance_sql_matches_columns.
        advanced = stepped.selectExpr(*SUPERSESSION_ADVANCE_SQL)
        # each round's state fully supersedes the last — rotate so prior
        # rounds' blocks are freed instead of leaking O(max_hops) copies
        new_state = advanced.unionByName(state.filter(F.col("done")))
        if fused_probe:
            obs = Observation(f"sup_round_{_hop}")
            new_state = new_state.observe(
                obs, F.sum((~F.col("done")).cast("int")).alias("open")
            )
        state = rotation.checkpoint(new_state)
        if fused_probe and not obs.get["open"]:
            break
    return state.select("start", "head", "hops").filter(F.col("hops") > 0)


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

    Output: (id, depth, importance rounded)."""
    e = edges
    if rel_types:
        e = e.filter(F.col("rel_type").isin(*rel_types))
    und = maybe_checkpoint(
        e.select("src", "dst").unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )

    spark = edges.sparkSession
    frontier = spark.createDataFrame([(int(s),) for s in seed_ids], "id bigint")
    visited = frontier.withColumn("depth", F.lit(0))
    # checkpoint the ACCUMULATOR (visited) with rotation — each round's
    # visited supersedes the last and the frontier re-derives from it, so
    # prior rounds' blocks can be freed (a per-round checkpoint of `nxt`
    # would leak: visited keeps referencing every round's frame)
    rotation = CheckpointRotation()
    fused_probe = checkpointing_enabled()
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(und, frontier.id == und.src)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
        )
        new_visited = visited.unionByName(nxt.withColumn("depth", F.lit(depth)))
        # frontier-size probe rides the checkpoint's own job (r12, same
        # pattern as the supersession/CC observe-exits): an empty frontier
        # makes every remaining round a no-op union — exit instead of
        # paying max_depth-depth more checkpoint jobs. Output-identical.
        if fused_probe:
            obs = Observation(f"bfs_depth_{depth}")
            new_visited = new_visited.observe(
                obs, F.sum((F.col("depth") == depth).cast("int")).alias("fresh")
            )
        visited = rotation.checkpoint(new_visited)
        if fused_probe and not obs.get["fresh"]:
            break
        frontier = visited.filter(F.col("depth") == depth).select("id")
    out = visited.filter(F.col("depth") > 0)
    mem = memories.select("id", "importance", F.col("timestamp").cast("double").alias("_ts"))
    return (
        out.join(mem, "id")
        .orderBy(F.desc("importance"), F.desc("_ts"), F.asc("id"))
        .limit(limit)
        .select("id", "depth", F.round("importance", 6).alias("importance"))
    )


#: Directed-edge-row bound under which connected_components runs a single
#: in-task union-find instead of the distributed label-propagation loop
#: (r12 verdict ask #5). At bench scale the loop is pure fixed overhead:
#: a 150-node / 277-pair similarity graph costs 6 blocking rounds x ~0.3s
#: of stage scheduling to propagate labels a single task resolves in
#: microseconds. The bound is the 100 TB guard: 1M directed rows (500k
#: undirected candidate pairs) is ~1s of path-compressed union-find in
#: one executor core and a ~2x|E|-entry label map that broadcasts in MBs
#: — and a THRESHOLDED candidate graph at 100 TB (cosine/LSH survivors)
#: is routinely this small even when |V| is billions, in which case the
#: broadcast label join is map-side over the node frame, strictly better
#: than |V|-wide iterative shuffles. Above the bound the loop's
#: O(log diameter) pointer-jumping rounds take over unchanged. Both paths
#: are output-identical (pinned by tests/test_graph.py against brute
#: force and tests/test_properties.py against a reference union-find).
#:
#: Measured headroom (scripts/cc_scale_check.py, r13): on a 2M-edge /
#: 3M-node random graph — 2x ABOVE this bound — the single-task path
#: still finishes in 17.8s vs the loop's 80.4s (local[32]), agreeing on
#: all 1,000,287 components with zero label mismatches. The bound stays
#: at 1M anyway: the union-find's in-task label map is ~2 dict entries
#: per edge row (~400MB at 2M rows), which must fit ONE executor's heap
#: on a real cluster (4-8GB typical), and the loop's relative cost here
#: is understated by local[32]'s network-free shuffles.
CC_LOCAL_MAX_EDGES = 1_000_000


def _cc_local_labels(und: DataFrame) -> DataFrame:
    """Single-task min-label union-find over the (already doubled,
    deduped) edge frame. coalesce(1) narrows the checkpointed 32-partition
    frame into one task WITHOUT a shuffle; mapInPandas accumulates every
    Arrow batch of that partition before emitting, so the union-find sees
    the whole edge set. Returns (id, component) for ENDPOINT nodes only —
    the caller fills in the singletons with a broadcast left join."""
    from pyspark.sql.types import StructField, StructType

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
    max_iters: int = 30,
    check_every: int = 1,
    local_max_edges: int | None = None,
) -> DataFrame:
    """C3's clustering core: connected components (consolidation.py:559-586
    does a driver-side DFS).

    Two physical strategies behind one contract, dispatched on the EXACT
    directed-edge-row count that rides the edge checkpoint's own observe
    job (so the gate costs zero extra actions):

    - <= local_max_edges (default CC_LOCAL_MAX_EDGES): single-task
      union-find over the candidate edges (`_cc_local_labels`), singleton
      fill-in via a broadcast left join — one job end-to-end instead of
      one blocking job per propagation round. This is the common regime
      for THRESHOLDED candidate graphs even at 100 TB corpus scale.
    - above it: distributed min-label propagation with POINTER JUMPING,
      as before:

    Each round: (1) neighbor-min — every node adopts the smallest label among
    itself and its neighbors (one join+agg); (2) pointer jump — every node
    re-reads the CURRENT label of its label (one self-join), so label chains
    halve and convergence is O(log diameter) rounds, not O(diameter) — the
    round-count fix for long-chain graphs at 100 TB (a diameter-10⁴ path
    converges in ~14 rounds instead of 10⁴).

    Convergence detection: labels only ever decrease, so SUM(component)
    strictly decreases iff any label changed. The probe rides the
    checkpoint's OWN job as an `observe` metric (r11): the eager
    localCheckpoint already executes the round's plan, and the Observation
    node collects the sum during that same execution — so each round costs
    exactly ONE driver-blocking job instead of checkpoint + a separate
    scalar-agg job. Probing every round (`check_every=1`) is now strictly
    free, and each skipped probe would risk a whole wasted round after
    convergence. max_iters stays as the safety bound. (The r11 alternative
    of fusing 2 propagate+jump steps per checkpointed round measured
    SLOWER at sf0.1 — 2.37s vs 2.24s — the deeper per-round plan costs
    AQE/Catalyst more than the saved round-trips; rejected.)

    Output: (id, component) where component = min node id in the component.

    Contract: every edge endpoint in `pairs` must appear in `nodes`
    (endpoints ⊆ nodes). All in-repo callers derive `pairs` from the node
    frame, so this always holds. Under violation the two physical
    strategies deliberately diverge rather than pay a per-run semi-join to
    agree on garbage: the local union-find path drops phantom endpoints
    (its label join is FROM the node frame) while the propagation loop
    emits them — and phantom groups carry a NULL `_old`, so the
    change-count probe ignores them. Validate inputs upstream if the edge
    source is untrusted.
    """
    if local_max_edges is None:
        local_max_edges = CC_LOCAL_MAX_EDGES
    und = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    und = und.distinct()
    # the density probe's approx_count_distinct rides the edge-frame
    # checkpoint's own job (observe, r11); the EXACT directed-row count for
    # the local-union-find gate rides the same observation (r13) — neither
    # probe costs a job of its own
    fuse_density = checkpointing_enabled()
    if fuse_density:
        und_obs = Observation("cc_density")
        und = und.observe(
            und_obs,
            F.approx_count_distinct("a").alias("n"),
            F.count(F.lit(1)).alias("m"),
        )
    und = maybe_checkpoint(und)

    all_nodes = nodes.select(F.col(node_id).alias("id"))
    if fuse_density:
        n_edge_rows = und_obs.get["m"]
        approx_endpoints = und_obs.get["n"]
    else:
        _probe = und.agg(
            F.approx_count_distinct("a").alias("n"), F.count(F.lit(1)).alias("m")
        ).collect()[0]
        n_edge_rows, approx_endpoints = _probe["m"], _probe["n"]
    if n_edge_rows <= local_max_edges:
        # small candidate graph: one task resolves it (see CC_LOCAL_MAX_
        # EDGES). Labels are bounded by 2x the edge rows, so the fill-in
        # join for singleton nodes broadcasts — the node frame never
        # shuffles at all on this path.
        labels = _cc_local_labels(und)
        return all_nodes.join(F.broadcast(labels), "id", "left").select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("component"),
        )
    # Singleton split: a node with no incident edge can never change its
    # label — keep it OUT of the iteration so every round's shuffle is
    # |endpoints|, not |V|. But the split itself costs a distinct over the
    # edge endpoints plus an anti-join, which is pure fixed overhead when
    # most nodes touch an edge (the r5 driver fixture: +22% wall). So GATE
    # it on a density probe that costs no extra shuffle: approx_count_
    # distinct over the already-checkpointed edge frame (one partial-agg
    # scan) vs a node count. Only when a clear majority of nodes are
    # singletons does the split pay for itself; output is identical on
    # both paths (property-tested against union-find).
    n_nodes = all_nodes.count()
    if n_nodes > 0 and approx_endpoints < 0.6 * n_nodes:
        # sparse: split. labels IS the endpoint set (the old semi-join was
        # a no-op re-derivation of it — folded away in r6).
        endpoints = maybe_checkpoint(
            und.select(F.col("a").alias("id")).distinct()
        )
        singles = all_nodes.join(endpoints, "id", "left_anti").withColumn(
            "component", F.col("id")
        )
        labels = endpoints.withColumn("component", F.col("id"))
    else:
        # dense-ish: iterate over all nodes; no split overhead.
        singles = None
        labels = all_nodes.withColumn("component", F.col("id"))
    # each round's labels fully supersede the last — rotate checkpoints so
    # at most two generations of the label frame are resident (a bare
    # per-round localCheckpoint leaks O(rounds) copies per run)
    rotation = CheckpointRotation()
    for it in range(max_iters):
        # neighbor-min as union + partial-aggregating groupBy (map-side
        # combine): each node keeps min(own label, neighbors' labels) in one
        # shuffle — no join-then-left-join round trip. The round's OLD label
        # rides along (`_old`, null on contrib rows; every group holds
        # exactly one labels row, so max() recovers it) purely to feed the
        # change-count probe below.
        contrib = labels.join(und, labels.id == und.a).select(
            F.col("b").alias("id"),
            "component",
            F.lit(None).cast(labels.schema["component"].dataType).alias("_old"),
        )
        stepped = (
            labels.withColumn("_old", F.col("component"))
            .unionByName(contrib)
            .groupBy("id")
            .agg(F.min("component").alias("component"), F.max("_old").alias("_old"))
        )
        # pointer jump: component <- label(component); labels are ids, so a
        # self-join keyed on the label value shortcuts chains geometrically.
        # (A double jump per round was measured in r5: one fewer round but
        # one more shuffle per round — a wash on propagation-bound graphs,
        # so the single jump stays.)
        jump = stepped.select(
            F.col("id").alias("component"), F.col("component").alias("_cc")
        )
        new_labels = stepped.join(jump, "component", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("_cc"), F.col("component"))
            ).alias("component"),
            "_old",
        )
        probe = (it + 1) % check_every == 0
        fused = probe and checkpointing_enabled()
        # convergence probe = EXACT count of labels this round changed
        # (post-jump vs the round's own input). r13: the previous probe was
        # SUM(component) equality across rounds — exact for the monotone
        # numeric labels every current caller uses, but a type hole: the
        # operator's contract is "component = min node id", and a string-id
        # node frame crashed the sum with CAST_INVALID_INPUT (caught by the
        # string-id property test). The change count is type-agnostic,
        # detects convergence in the same round (zero changes == the
        # sum-equality round), and rides the same checkpoint job.
        changes_expr = F.sum(
            (F.col("component") != F.col("_old")).cast("long")
        ).alias("s")
        if fused:
            obs = Observation(f"cc_round_{it}")
            new_labels = new_labels.observe(obs, changes_expr)
        labels = rotation.checkpoint(new_labels.drop("_old") if not probe else new_labels)
        if probe:
            # metric collected during the checkpoint's own execution.
            # (With checkpoints disabled for plan tests nothing executed, so
            # an Observation would block forever — fall back to a collect.)
            s = obs.get["s"] if fused else labels.agg(changes_expr).collect()[0][0]
            labels = labels.drop("_old")
            if s == 0:
                break
    return labels.unionByName(singles) if singles is not None else labels


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

    Output: (id, source 'graph'|'semantic', depth [-1 for semantic],
    sim [-1.0 for graph], importance). Sentinels instead of NULLs keep the
    cross-engine hash well-defined.
    """
    bfs = related_memories_bfs(
        [center_id], edges, memories, max_depth=depth, limit=graph_limit
    )
    bfs = maybe_checkpoint(bfs)
    graph_part = bfs.select(
        "id",
        F.lit("graph").alias("source"),
        F.col("depth").cast("bigint").alias("depth"),
        F.lit(-1.0).alias("sim"),
        "importance",
    )
    if embeddings is None:
        return graph_part
    center = embeddings.filter(F.col("vec_id") == center_id).collect()
    if not center:
        return graph_part
    from automem_spark.operators.similarity import cosine_topk_join

    qv = [float(x) for x in center[0]["embedding"]]
    spark = embeddings.sparkSession
    queries = spark.createDataFrame(
        [("c", qv)], "query_id string, query_embedding array<double>"
    )
    top = cosine_topk_join(embeddings, queries, semantic_limit + 1, item_id="vec_id")
    sem = (
        top.filter(F.col("vec_id") != center_id)
        .join(bfs.select(F.col("id").alias("vec_id")), "vec_id", "left_anti")
        .join(
            memories.select(F.col("id").alias("vec_id"), "importance"), "vec_id"
        )
    )
    sem_part = sem.select(
        F.col("vec_id").alias("id"),
        F.lit("semantic").alias("source"),
        F.lit(-1).cast("bigint").alias("depth"),
        F.round("sim", 5).alias("sim"),
        F.round("importance", 6).alias("importance"),
    )
    return graph_part.unionByName(sem_part)
