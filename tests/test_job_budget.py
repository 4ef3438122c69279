"""Job budgets for the graph walks, `recall`, `recall_full` and
`graph_neighbors`: the jobs launched while each builds, and for the three
serve requests also while they run.

Building a DataFrame should not run Spark jobs; a job launched while the
plan is built blocks the request before its action starts. Each check
builds one operator inside its own job group and counts the jobs Spark's
status tracker attributes to that group.
"""

import itertools

import pytest
from pyspark.sql import functions as F
from state_oracle import gated_supersession

from automem_spark.operators.graph import (
    connected_components,
    graph_neighbors,
    related_memories_bfs,
    resolve_supersession,
)
from automem_spark.operators.recall import RecallRequest, recall, recall_full
from automem_spark.operators.similarity import cosine_threshold_self_join
from automem_spark.sources.graph_fixture import edges_view
from automem_spark.sources.tables import load_table, memories_view

_groups = itertools.count()


def build_jobs(spark, build) -> int:
    """Number of Spark jobs launched while `build()` runs (a plan build, or
    an action)."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_groups)}"
    sc.setJobGroup(group, "build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def graph(spark, sf_dir):
    edges = edges_view(spark, sf_dir)
    mem = memories_view(spark, sf_dir)
    state = mem.select(
        "id",
        F.when(F.col("id") % 3 == 0, F.lit("superseded")).alias("state_reason"),
    )
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    pairs = cosine_threshold_self_join(emb, 0.25, item_id="vec_id")
    nodes = emb.select(F.col("vec_id").alias("id"))
    return edges, mem, state, pairs, nodes


def test_graph_walk_build_job_budget(spark, graph):
    edges, mem, state, pairs, nodes = graph
    assert build_jobs(spark, lambda: resolve_supersession(edges)) == 0
    assert build_jobs(spark, lambda: gated_supersession(edges, state)) == 0
    assert build_jobs(spark, lambda: connected_components(pairs, nodes)) == 0
    assert build_jobs(
        spark, lambda: related_memories_bfs([0, 5, 10], edges, mem, max_depth=1)
    ) <= 2


def test_recall_build_job_budget(spark, sf_dir):
    """Building a hybrid recall (vector, keyword and tag-filtered) runs no
    job: every channel stays lazy until the action."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).collect()[0].embedding]
    corpus = memories_view(spark, sf_dir).join(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
    )
    for req in (
        RecallRequest(query="spark window merge", limit=5),
        RecallRequest(query="spark window merge", limit=5, tags=["lang:en"]),
    ):
        assert build_jobs(spark, lambda: recall(corpus, req, query_vector=qv)) == 0


def test_recall_exec_job_budget(spark, recall_corpus):
    """Executing a hybrid recall over a file-backed corpus takes at most 3
    jobs: the two shuffles (per-partition pre-rank, global rank) and the
    result."""
    corpus, qv = recall_corpus
    for req in (
        RecallRequest(query="spark window merge", limit=5),
        RecallRequest(query="spark window merge", limit=5, tags=["lang:en"]),
    ):
        out = recall(corpus, req, query_vector=qv)
        assert build_jobs(spark, out.collect) <= 3


def test_graph_neighbors_build_job_budget(spark, sf_dir, graph):
    """Building a 1-hop `graph_neighbors` runs 4 jobs on the sf0.001
    fixture: the BFS frontier collect, the BFS importance top-k collect,
    the centre-vector collect and the semantic top-(k+1) collect."""
    edges, mem = graph[0], graph[1]
    emb = load_table(spark, sf_dir, "embeddings")
    assert build_jobs(spark, lambda: graph_neighbors(5, edges, mem, emb)) <= 4


def test_graph_neighbors_job_budget(spark, sf_dir, graph):
    """A 1-hop `graph_neighbors` on the sf0.001 fixture: 4 jobs to build
    and 3 to run (4 + 5 before its working sets went through the driver
    as literals: a BFS checkpoint and the Python cosine kernel)."""
    edges, mem = graph[0], graph[1]
    emb = load_table(spark, sf_dir, "embeddings")
    built = []
    assert build_jobs(spark, lambda: built.append(graph_neighbors(5, edges, mem, emb))) <= 4
    assert build_jobs(spark, built[0].collect) <= 3


def test_recall_full_job_budget(spark, sf_dir, graph):
    """A `recall_full` on the sf0.001 fixture: 10 jobs to build (the seed
    and candidate collects, the relation expansion's edge and target reads,
    the state filter's hop reads) and 3 to run (20 + 13 when the seeds, the
    candidates and the state filter's corpus hydration were checkpointed and
    the supersession walk covered all of `edges`)."""
    edges, mem = graph[0], graph[1]
    for req in (
        RecallRequest(query="spark window merge", limit=5),
        RecallRequest(query="spark window merge", limit=5, tags=["lang:en"]),
    ):
        built = []
        assert build_jobs(spark, lambda: built.append(recall_full(mem, edges, req))) <= 10
        assert build_jobs(spark, built[0].collect) <= 3
