"""Graph-layer operator tests on the deterministic edges fixture."""

from collections import Counter

from pyspark.sql import functions as F
from state_oracle import gated_supersession

from automem_spark.operators.graph import (
    SUPERSESSION_TYPES,
    connected_components,
    expand_relations,
    graph_stats,
    preference_ranking,
    related_memories_bfs,
    relations_fetch,
    resolve_supersession,
    sync_drift,
)
from automem_spark.operators.similarity import cosine_threshold_self_join
from automem_spark.sources.graph_fixture import edges_view
from automem_spark.sources.tables import load_table, memories_view


def test_edges_fixture_shape(spark, sf_dir):
    edges = edges_view(spark, sf_dir)
    types = {r.rel_type for r in edges.select("rel_type").distinct().collect()}
    assert {"RELATES_TO", "SIMILAR_TO", "PRECEDED_BY", "PREFERS_OVER",
            "EXEMPLIFIES", "CONTRADICTS", "DISCOVERED", "EXPLAINS",
            "INVALIDATED_BY", "EVOLVED_INTO"} <= types
    # hub node 5 has >5 outgoing
    hub = edges.filter(F.col("src") == 5).count()
    assert hub >= 8


def test_relations_fetch_caps_and_order(spark, sf_dir):
    edges = edges_view(spark, sf_dir)
    mem = memories_view(spark, sf_dir)
    got = relations_fetch(edges, mem, 5)
    per_src = got.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert per_src <= 5
    # hub node trimmed to exactly 5
    assert got.filter(F.col("src") == 5).count() == 5
    # legacy EXPLAINS canonicalized
    assert got.filter(F.col("rel_type") == "EXPLAINS").count() == 0


def test_supersession_chains(spark, sf_dir):
    edges = edges_view(spark, sf_dir)
    got = {r.start: (r.head, r.hops) for r in resolve_supersession(edges).collect()}
    # chain 10->11->...->16 capped at 5 hops => head 15
    assert got[10] == (15, 5)
    # mid-chain entry walks to the true head 16 (6 hops away from 10, 4 from 12)
    assert got[12] == (16, 4)
    # short chains
    assert got[30] == (31, 1)
    assert got[20] == (22, 2)
    # EVOLVED_INTO chain 50->53
    assert got[50] == (53, 3)
    # 2-cycle stops at the other node
    assert got[40] == (41, 1)
    assert got[41] == (40, 1)


def _reference_supersession(edge_rows, active=None, max_hops=5):
    """Pure-Python J4 walk: the newest (updated_at_epoch DESC, dst DESC)
    qualifying edge per source, followed ≤max_hops with a visited-set
    guard. `active` (a set of ids) gates each edge on its target."""
    newest = {}
    for src, dst, rel, ts in edge_rows:
        if rel not in SUPERSESSION_TYPES or (active is not None and dst not in active):
            continue
        key = (ts is not None, ts or 0, dst)  # DESC puts NULL epochs last
        if src not in newest or key > newest[src]:
            newest[src] = key
    step = {src: key[2] for src, key in newest.items()}
    out = set()
    for start in step:
        head, hops, seen = start, 0, {start}
        while hops < max_hops and step.get(head) is not None and step[head] not in seen:
            head = step[head]
            seen.add(head)
            hops += 1
        if hops:
            out.add((start, head, hops))
    return out


def test_supersession_paths_identical(spark, sf_dir):
    """The single-task chain walk matches a pure-Python reference walk on
    both the raw walk and the state-gated walk that current_state_filter
    drives."""
    edges = edges_view(spark, sf_dir)
    mem = memories_view(spark, sf_dir)
    state = mem.select(
        "id",
        F.when(F.col("id") % 3 == 0, F.lit("superseded")).alias("state_reason"),
    )
    edge_rows = [
        tuple(r) for r in edges.select("src", "dst", "rel_type", "updated_at_epoch").collect()
    ]
    active = {r.id for r in state.filter(F.col("state_reason").isNull()).collect()}
    walks = ((resolve_supersession(edges), None), (gated_supersession(edges, state), active))
    for walk, act in walks:
        got = {(r.start, r.head, r.hops) for r in walk.collect()}
        assert got == _reference_supersession(edge_rows, act)
        assert got  # non-degenerate fixture


def test_bfs_depths(spark, sf_dir):
    edges = edges_view(spark, sf_dir)
    mem = memories_view(spark, sf_dir)
    got = related_memories_bfs([0, 5, 10], edges, mem, max_depth=3)
    rows = got.collect()
    assert rows and all(1 <= r.depth <= 3 for r in rows)
    ids = {r.id for r in rows}
    assert 1 in ids  # 0 -RELATES_TO-> 1 at depth 1
    assert not {0, 5, 10} & ids


def test_connected_components_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    pairs = cosine_threshold_self_join(emb, 0.25, item_id="vec_id")
    labels = connected_components(pairs, emb.select(F.col("vec_id").alias("id")))
    got = {r.id: r.component for r in labels.collect()}
    # brute-force union-find on the driver
    parent = {i: i for i in got}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for r in pairs.collect():
        a, b = find(r.src), find(r.dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    expected = {i: find(i) for i in got}
    assert got == expected


def test_connected_components_paths_identical(spark, sf_dir):
    """The single-task union-find matches a driver-side union-find over all
    150 nodes. vec_id < 150 leaves nodes with no pair above the cosine
    threshold, so the broadcast singleton fill-in is exercised too."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    pairs = cosine_threshold_self_join(emb, 0.25, item_id="vec_id")
    nodes = emb.select(F.col("vec_id").alias("id"))
    got = {r.id: r.component for r in connected_components(pairs, nodes).collect()}
    parent = {r.id: r.id for r in nodes.collect()}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        a, b = find(r.src), find(r.dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    assert len(parent) == 150
    assert got == {i: find(i) for i in parent}
    sizes = Counter(got.values())
    assert max(sizes.values()) > 1 and min(sizes.values()) == 1  # merged + singletons


def test_stats_drift_preferences(spark, sf_dir):
    edges = edges_view(spark, sf_dir)
    mem = memories_view(spark, sf_dir)
    stats = {r.rel_type: r.n for r in graph_stats(edges).collect()}
    assert "EXPLAINS" not in stats and stats.get("DISCOVERED", 0) > 0
    prefs = preference_ranking(edges).collect()
    assert len(prefs) == 10
    assert [r.strength for r in prefs] == sorted((r.strength for r in prefs), reverse=True)
    drift = sync_drift(edges, mem)
    # every drifting edge targets an archived memory (dst % 37 == 0)
    assert all(r.dst % 37 == 0 for r in drift.collect())


def test_expand_relations_caps(spark, sf_dir):
    edges = edges_view(spark, sf_dir)
    mem = memories_view(spark, sf_dir)
    seeds = (
        mem.filter(~F.col("archived") & (F.col("type") != "MetaPattern"))
        .orderBy(F.desc("importance"), F.asc("id"))
        .limit(10)
        .select("id", F.col("importance").alias("final_score"))
    )
    got = expand_relations(seeds, edges, mem)
    rows = got.collect()
    assert len(rows) <= 25
    per_seed = got.groupBy("seed_id").count().agg(F.max("count")).collect()
    if per_seed and per_seed[0][0] is not None:
        assert per_seed[0][0] <= 5


def test_graph_snapshot_induced_subgraph(spark, sf_dir):
    """S9: every returned edge has both endpoints in the selected node set;
    node selection respects filters and limit."""
    from pyspark.sql import functions as F

    from automem_spark.operators.graph import graph_snapshot
    from automem_spark.sources.graph_fixture import edges_view
    from automem_spark.sources.tables import memories_view

    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    nodes, sedges = graph_snapshot(
        mem, edges, limit=50, min_importance=0.3, types=("Decision", "Pattern")
    )
    nrows = nodes.collect()
    assert len(nrows) <= 50
    assert all(r["importance"] >= 0.3 and r["type"] in ("Decision", "Pattern") for r in nrows)
    ids = {r["id"] for r in nrows}
    for e in sedges.collect():
        assert e["source"] in ids and e["target"] in ids
        assert e["strength"] is not None  # missing strength -> 0.5 default
    # visual property formulas
    r0 = nrows[0]
    assert abs(r0["radius"] - (0.5 + r0["importance"] * 1.5)) < 1e-12
    assert abs(r0["opacity"] - (0.4 + r0["confidence"] * 0.6)) < 1e-12


def test_graph_neighbors_dedup_and_sentinels(spark, sf_dir):
    """J7: semantic rows never repeat graph-seen ids or the center; each
    channel uses its sentinel for the other channel's column."""
    from automem_spark.operators.graph import graph_neighbors
    from automem_spark.sources.graph_fixture import edges_view
    from automem_spark.sources.tables import load_table, memories_view

    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    rows = graph_neighbors(5, edges, mem, emb, depth=2, semantic_limit=5).collect()
    graph_ids = {r["id"] for r in rows if r["source"] == "graph"}
    sem_ids = {r["id"] for r in rows if r["source"] == "semantic"}
    assert 5 not in graph_ids and 5 not in sem_ids
    assert not (graph_ids & sem_ids)
    assert graph_ids, "hub node must have graph neighbors"
    for r in rows:
        if r["source"] == "graph":
            assert r["depth"] in (1, 2) and r["sim"] == -1.0
        else:
            assert r["depth"] == -1 and -1.0 <= r["sim"] <= 1.0


def test_bfs_early_exit_output_identical(spark):
    # a graph exhausted at depth 2: the walk stops on the first empty
    # frontier and returns exactly the hand-computed min depths
    edges = spark.createDataFrame(
        [(1, 2, "RELATES_TO"), (2, 3, "RELATES_TO")],
        "src bigint, dst bigint, rel_type string",
    )
    mem = spark.createDataFrame(
        [(i, 0.5, "2026-01-01 00:00:00") for i in (1, 2, 3)],
        "id bigint, importance double, timestamp string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    got = related_memories_bfs([1], edges, mem, max_depth=5).collect()
    assert {(r.id, r.depth) for r in got} == {(2, 1), (3, 2)}
