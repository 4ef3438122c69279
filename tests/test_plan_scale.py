"""Plan-shape assertions: scale anti-pattern guards.

The correctness gate proves the VALUES right at small SF; these tests pin
the PLAN shapes that keep the same code alive at 100 TB:

- no BroadcastExchange whose subtree scans a corpus parquet file directly
  (a corpus-wide broadcast exceeds the broadcast limit on a real cluster);
  a corpus scan under a broadcast is only legal when a LeftSemi join against
  a bounded id set sits between the scan and the exchange (the broadcast
  then carries only the bounded semi-join output).
- no corpus-per-reducer window: a row_number window partitioned by a
  low-cardinality key (query_id) must never consume an unbounded corpus
  feed directly — something must bound its input first (a per-partition
  pre-rank, a partial-top-k kernel, or a broadcast-bounded candidate join).

Every frame is built with AUTOMEM_SPARK_DISABLE_CHECKPOINT=1: operators
materialize reused frames via localCheckpoint, which replaces the subtree
with `Scan ExistingRDD` in the plan and would make these guards vacuous for
exactly the code paths they exist to pin (ADVICE r3).

The request paths that take bounded sets through the driver (`recall_full`,
`current_state_filter`, `graph_neighbors`) return literal frames, so the
plan of their output shows little. Their guards run on every physical plan
the call executes instead: the `executed_plans` fixture records the plan
of each `DataFrame.collect`.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automem_spark.operators.recall import RecallRequest, recall, recall_full
from automem_spark.operators.state import current_state_filter
from automem_spark.plans.checkpoint import DISABLE_ENV
from automem_spark.sources.graph_fixture import edges_view
from automem_spark.sources.tables import memories_view


@pytest.fixture(autouse=True)
def _no_checkpoint(monkeypatch):
    """Keep full lineage visible to the plan guards (see module docstring)."""
    monkeypatch.setenv(DISABLE_ENV, "1")


@pytest.fixture
def executed_plans(spark, monkeypatch):
    """The physical plan of every DataFrame collected while the test runs,
    taken after the action (AQE's final and initial plans)."""
    plans: list[str] = []
    frame = type(spark.range(0))  # the session's concrete DataFrame class
    collect = frame.collect

    def recording(self):
        rows = collect(self)
        plans.append(_physical_plan(self))
        return rows

    monkeypatch.setattr(frame, "collect", recording)
    return plans


def _physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _broadcast_subtrees(plan: str) -> list[str]:
    """Split the indented physical-plan text into the subtree under each
    BroadcastExchange node (tree glyphs +- : | define depth)."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        m = re.match(r"^[\s:+|-]*", line)
        return len(m.group(0)) if m else 0

    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = depth(line)
        sub = [line]
        for nxt in lines[i + 1 :]:
            if not nxt.strip() or depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def _bounded_broadcasts(plan: str) -> int:
    """Check that no broadcast in `plan` carries a raw corpus scan; returns
    the number of broadcasts."""
    subtrees = _broadcast_subtrees(plan)
    for sub in subtrees:
        if "Scan parquet" in sub or "FileScan" in sub:
            # a corpus scan may sit under a broadcast only when something
            # bounds it first: a LeftSemi id-pushdown or an explicit limit
            assert "LeftSemi" in sub or "Limit" in sub, (
                "BroadcastExchange over a raw corpus parquet scan "
                "(no LeftSemi/Limit bound):\n" + sub
            )
    return len(subtrees)


def assert_no_corpus_broadcast(df: DataFrame) -> None:
    assert _bounded_broadcasts(_physical_plan(df)), (
        "expected at least one broadcast in the plan"
    )


def _corpus_plans(plans: list[str]) -> list[str]:
    """The recorded plans, after checking that some of them read a corpus
    file (so the guards below are not vacuous)."""
    assert any("FileScan" in p for p in plans), "no executed plan reads a corpus file"
    return plans


def test_recall_full_no_corpus_broadcast(spark, sf_dir, executed_plans):
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    # a query with keyword seeds on the fixture, so every stage executes
    req = RecallRequest(query="spark window merge", limit=20)
    recall_full(mem, edges, req, priority_tags=["lang:en"]).collect()
    broadcasts = sum(map(_bounded_broadcasts, _corpus_plans(executed_plans)))
    assert broadcasts, "expected at least one broadcast in the executed plans"


def test_current_state_filter_no_corpus_broadcast(spark, sf_dir, executed_plans):
    """The filter reads `memories` and `edges` only through literal-id
    filters, so none of its executed plans broadcasts anything."""
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    results = mem.limit(40).select(
        "id",
        F.lit("keyword").alias("match_type"),
        F.lit(0.5).alias("final_score"),
    )
    current_state_filter(results, mem, edges, now="2026-06-01 00:00:00").collect()
    plans = _corpus_plans(executed_plans)
    assert sum(map(_bounded_broadcasts, plans)) == 0, "\n\n".join(plans)


def _window_subtrees(plan: str) -> list[str]:
    lines = plan.splitlines()

    def depth(line: str) -> int:
        m = re.match(r"^[\s:+|-]*", line)
        return len(m.group(0)) if m else 0

    out = []
    for i, line in enumerate(lines):
        if "Window" not in line or "row_number" not in line:
            continue
        d = depth(line)
        sub = [line]
        for nxt in lines[i + 1 :]:
            if not nxt.strip() or depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


# Evidence that a window's input is bounded before the per-group shuffle:
# the second stage of a two-stage top-k (filter on the per-slice pre-rank),
# a partial-top-k Python kernel (emits <= parts x Q x k rows), an equi-join
# whose build side is broadcast (candidates-bounded hydration), an explicit
# limit, or a checkpointed bounded frame.
_BOUNDED_MARKERS = (
    "_prerank",
    "MapInPandas",
    "BroadcastHashJoin",
    "Limit",
    "TakeOrdered",
    "ExistingRDD",
)


def assert_no_corpus_window(df: DataFrame) -> None:
    """A row_number window NOT keyed by _pid (the per-input-partition salt)
    must show bounded input — an unbounded corpus feed into a per-query_id
    window is one reducer sorting the whole corpus per query at scale.
    Note a broadcast CROSS join (BroadcastNestedLoopJoin) does NOT bound:
    corpus x queries is still corpus-sized per query."""
    _bounded_windows(_physical_plan(df))


def _bounded_windows(plan: str) -> None:
    for sub in _window_subtrees(plan):
        head = sub.splitlines()[0]
        if "_pid" in head:
            continue  # partitioned by (group, input-partition): bounded
        if "WindowGroupLimit" in head:
            # not a window execution node: this IS the optimizer's top-k
            # bounding device (the Partial form runs map-side, pre-shuffle)
            continue
        body = "\n".join(sub.splitlines()[1:])
        feeds_corpus = "FileScan" in body or "BroadcastNestedLoopJoin" in body
        # Spark's InferWindowGroupLimit inserts a map-side Partial group
        # limit below the shuffle for rank<=k windows — the two-stage
        # top-k shape itself, applied by the optimizer (visible since the
        # edges fixture became a FileScan rather than an in-memory union).
        partial_group_limit = any(
            "WindowGroupLimit" in ln and "Partial" in ln
            for ln in body.splitlines()
        )
        if feeds_corpus:
            assert partial_group_limit or any(
                m in body for m in _BOUNDED_MARKERS
            ), "row_number window over an unbounded corpus feed:\n" + sub


def test_multi_recall_hybrid_no_corpus_window(spark, sf_dir):
    """The R10/R11 all-channel fan-out must never rank the corpus through a
    per-query reducer (VERDICT r3 'What's wrong' #3)."""
    import __spark_entry__ as entry

    out = entry.q_multi_recall_hybrid(spark, sf_dir)
    assert_no_corpus_window(out)
    assert_no_corpus_broadcast(out)


def test_recall_full_no_corpus_window(spark, sf_dir, executed_plans):
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    # a query with keyword seeds on the fixture, so every stage executes
    req = RecallRequest(query="spark window merge", limit=20)
    recall_full(mem, edges, req, priority_tags=["lang:en"]).collect()
    for plan in _corpus_plans(executed_plans):
        _bounded_windows(plan)


# Operators that start a Python worker, and the scan of a Python-built RDD
# (createDataFrame) or of a localCheckpoint.
_PYTHON_OPERATORS = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "ExistingRDD")


def test_serve_requests_run_no_python_worker_or_checkpoint(
    spark, sf_dir, recall_corpus, executed_plans, monkeypatch
):
    """membench serve's three request kinds (hybrid recall, full recall,
    graph neighbours) execute no Python operator and no checkpoint."""
    from automem_spark.operators.graph import graph_neighbors
    from automem_spark.sources.tables import load_table

    monkeypatch.delenv(DISABLE_ENV)
    checkpoints = []
    monkeypatch.setattr(
        type(spark.range(0)),
        "localCheckpoint",
        lambda self, *a, **k: checkpoints.append(self),
    )
    corpus, qv = recall_corpus
    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    req = RecallRequest(query="spark window merge", limit=5, tags=["lang:en"])
    recall(corpus, req, query_vector=qv).collect()
    recall_full(mem, edges, req).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    graph_neighbors(5, edges, mem, emb).collect()
    assert not checkpoints
    for plan in _corpus_plans(executed_plans):
        found = [op for op in _PYTHON_OPERATORS if op in plan]
        assert not found, f"{found}:\n{plan}"


RECALL_REQUESTS = (
    RecallRequest(query="spark window merge", limit=5),
    RecallRequest(query="spark window merge", limit=5, tags=["lang:en"]),
)


def test_recall_no_corpus_window(recall_corpus):
    """recall() ranks the corpus only per input partition (`_pid`); its
    global windows and the dedup window see the pre-ranked survivors."""
    corpus, qv = recall_corpus
    for req in RECALL_REQUESTS:
        assert_no_corpus_window(recall(corpus, req, query_vector=qv))


def test_recall_scans_corpus_once(recall_corpus):
    """One hybrid recall (vector, keyword and metadata channels) reads its
    corpus once: one FileScan in the physical plan."""
    corpus, qv = recall_corpus
    for req in RECALL_REQUESTS:
        plan = _physical_plan(recall(corpus, req, query_vector=qv))
        assert plan.count("FileScan") == 1, plan


def test_enrich_pipeline_plan_has_no_unbounded_join_shapes(spark):
    """ST2 at scale: with the LSH neighbor path (or no neighbor stage) the
    composed enrichment plan must contain no CartesianProduct and no
    BroadcastNestedLoopJoin — every join is keyed (id / partition column /
    type). The exact-cosine neighbor stage is the ONLY permitted theta-join
    producer, and it is opt-in for bounded corpora."""
    from datetime import datetime

    from automem_spark.operators.enrich import enrich_pipeline

    mem = spark.createDataFrame(
        [(i, f"content {i}", ["lang:en"], datetime(2026, 1, 1 + i % 20), "web")
         for i in range(40)],
        "id long, content string, tags array<string>, timestamp timestamp, source string",
    )
    plan = _physical_plan(enrich_pipeline(mem, None))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_snapshot_broadcasts_only_bounded_node_set(spark, sf_dir):
    """S9: the induced-edge membership joins must broadcast the LIMITed node
    set, never the edge corpus side."""
    from automem_spark.operators.graph import graph_snapshot

    mem = memories_view(spark, sf_dir)
    edges = edges_view(spark, sf_dir)
    nodes, sedges = graph_snapshot(mem, edges, limit=50, min_importance=0.3)
    plan = _physical_plan(sedges)
    for sub in _broadcast_subtrees(plan):
        # every broadcast subtree must be bounded by the node-limit
        assert "GlobalLimit" in sub or "TakeOrdered" in sub or "Scan ExistingRDD" in sub, sub[:400]


def test_minhash_lsh_single_bucket_exchange_single_scan(spark, sf_dir):
    """MinHash LSH candidate shape: ONE corpus scan feeding the Arrow
    signature kernel (MapInPandas — NO signature shuffle at all), ONE
    shuffle on (band, bucket) shared by the bucket-size window and the
    collect_list pair generation (same key -> Catalyst plans a single
    exchange), one on (src, dst) for the candidate distinct — 2 exchanges
    total. A second (band, bucket) exchange or scan would mean the r4
    regression shape (checkpoint + anti-join + self-join) crept back."""
    from automem_spark.operators.dedup import minhash_lsh_pairs
    from automem_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    cand = minhash_lsh_pairs(docs, 0.4, verify=False)
    plan = _physical_plan(cand)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    bucket_exchanges = [e for e in exchanges if "band" in e and "bucket" in e]
    assert len(bucket_exchanges) == 1, exchanges
    assert len(exchanges) == 2, exchanges
    assert "MapInPandas" in plan
    assert plan.count("Scan parquet") == 1, plan


def test_approx_census_production_tier_is_sketch_shaped(spark, sf_dir):
    """The 100 TB census tier (corpus_profile_approx): the PRODUCTION
    projection — approx_count_distinct + approx_percentile only — must
    plan as one partial/final aggregate pair over a single scan with NO
    Expand (countDistinct's row-multiplying shape) and no sort-based
    fallback: the map side ships one bounded sketch per (group, column).
    The registry row adds the exact columns as its accuracy gate and
    legitimately pays the Expand — that cost lives in the GATE, not in
    the production tier this test pins."""
    from automem_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    prod = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_count_distinct("source", 0.02).alias("n_sources"),
        F.expr("approx_percentile(n_chars, array(0.5, 0.95), 10000)").alias("pcts"),
    )
    plan = _physical_plan(prod)
    assert "Expand" not in plan, plan
    assert "SortAggregate" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1 and "lang" in exchanges[0], exchanges


def test_approx_census_accuracy_contract_holds(spark, sf_dir):
    """Every accuracy flag the corpus_profile_approx row carries must be
    true on real data: HLL within 5% of the exact distinct count, each
    approx percentile inside the exact [p-0.05, p+0.05] rank band. The
    driver oracle asserts the same via literal-TRUE flag columns; this is
    the in-repo twin of that contract."""
    import __spark_entry__ as entry

    rows = entry.queries()["corpus_profile_approx"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.hll_within_5pct, r
        assert r.p50_in_rank_band, r
        assert r.p95_in_rank_band, r


def test_semantic_decontaminate_matmul_plan_is_zero_exchange(spark, sf_dir):
    """The shipped decontamination default (the registry row since r9)
    must stay ONE Arrow scan with no shuffle: scan -> mapInPandas, zero
    Exchange nodes. The eval matrix travels by closure broadcast, which
    never appears in the SQL plan — so the pin is Exchange ABSENCE, not
    BroadcastExchange presence."""
    from pyspark.sql import functions as F

    from automem_spark.operators.trainprep import semantic_decontaminate_matmul

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_eval = F.col("vec_id") % 97 == 0
    out = semantic_decontaminate_matmul(
        emb.filter(~is_eval), emb.filter(is_eval), 0.35
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower(), plan


def test_exact_pair_helpers_pin_bnlj_never_cartesian(spark, sf_dir):
    """The three exact O(N²) pair helpers (cosine_threshold_self_join,
    ngram_jaccard_pairs, creative_pairs) carry a non-equi join predicate,
    so Spark's only physical choices are BroadcastNestedLoopJoin and
    CartesianProduct — and it picks by relation-size ESTIMATES that ignore
    pushed-filter selectivity. Measured at sf30 (r14): the same 150-row
    slice that broadcast at sf0.1 over-estimated past the threshold and
    the join fell to a CartesianProduct with |a|x|b| = 1024 partitions
    (32x the tasks for identical output). The helpers now pin the
    broadcast explicitly (their documented domain is bounded frames) —
    this guard keeps the cartesian from coming back."""
    from automem_spark.operators.consolidation import creative_pairs
    from automem_spark.operators.dedup import ngram_jaccard_pairs
    from automem_spark.operators.similarity import cosine_threshold_self_join
    from automem_spark.sources.graph_fixture import edges_view
    from automem_spark.sources.tables import memories_view

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 150
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    mem = memories_view(spark, sf_dir)
    frames = {
        "cosine_threshold_self_join": cosine_threshold_self_join(
            emb, 0.25, item_id="vec_id"
        ),
        "ngram_jaccard_pairs": ngram_jaccard_pairs(docs, 0.4, n=3),
        "creative_pairs": creative_pairs(
            mem,
            emb.select("vec_id", "embedding"),
            edges_view(spark, sf_dir),
        ),
    }
    for name, df in frames.items():
        plan = _physical_plan(df)
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        assert "BroadcastNestedLoopJoin" in plan, f"{name}:\n{plan}"


def test_text_family_rows_parallelize_single_split_scans(spark, sf_dir):
    """The ten per-row-compute document rows repartition the scan before
    their heavy projections (r14). The driver fixtures are single-file
    parquet, so without it the whole per-row compute (regex votes, md5
    bit votes, shingle explode, PII chains, Arrow kernels) serializes
    onto ONE core regardless of cluster size — measured −22%…−91% per
    row at .sf1 with the round-robin in place. ensure_parallelism is a
    no-op on genuinely parallel scans, so the Exchange below is a
    local-fixture artifact, not a 100 TB cost."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in (
        "text_stats", "classify", "lang_id", "pii_redact", "doc_chunks",
        "doc_fingerprint", "repetition_filter", "chunk_dedup", "simhash",
        "decontaminate",
        # r15: the same class applied to the one heavy row r14 missed —
        # the entity regex-extraction + HOF validation chain (measured
        # 22.7 -> 4.3 s noop at .sf1, −81%)
        "extract_entities",
    ):
        plan = _physical_plan(qs[name](spark, sf_dir))
        assert "RoundRobinPartitioning" in plan, f"{name}:\n{plan}"


def test_barrier_filter_semantics_and_pushdown_block(spark):
    """r15 (plans/pushdown.py): barrier_filter must (a) drop exactly the
    rows a plain filter drops, INCLUDING null-predicate rows, and (b) keep
    the predicate out of the scan's DataFilters — a plain filter on an
    expensive derived column gets the defining expression substituted in
    and pushed to the scan, re-running it per row at scan parallelism and
    duplicating any evaluation a projection above still needs."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from automem_spark.plans.pushdown import barrier_filter

    df = spark.createDataFrame(
        [(1, "keep me here"), (2, "drop"), (3, None)], "id long, text string"
    )
    # pred is NULL for the null-text row: filter drops it; so must barrier
    pred = F.length(F.col("text")) > 4
    want = {r.id for r in df.filter(pred).collect()}
    got = {r.id for r in barrier_filter(df, pred).collect()}
    assert got == want == {1}

    # pushdown block: over a parquet scan, the plain filter lands in
    # DataFilters; the barrier keeps the scan's DataFilters empty
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        df.write.parquet(path)
        scan = spark.read.parquet(path)
        plain = scan.filter(pred)._jdf.queryExecution().executedPlan().toString()
        barr = (
            barrier_filter(scan, pred)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "DataFilters: [isnotnull" in plain or "DataFilters: [(length" in plain
        assert "DataFilters: []" in barr
        assert "LeftSemi" in barr


def test_barrier_filter_rejects_gate_column_clash(spark):
    """barrier_filter stages its gate in a fixed column name; a caller's
    column of that name must be refused, not overwritten and dropped."""
    from automem_spark.plans.pushdown import barrier_filter

    df = spark.createDataFrame([(1, True)], "id long, _barrier_gate_ok boolean")
    with pytest.raises(ValueError, match="collide"):
        barrier_filter(df, F.col("id") > 0)
