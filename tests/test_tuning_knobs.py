"""Loop-path dispatch for the two graph bounds.

CC_LOCAL_MAX_EDGES and SUPERSESSION_LOCAL_MAX_WALKS pick a single-task
path below the bound and a distributed join loop above it. The fixtures sit
far below both bounds, so each test forces the loop path through the
explicit keyword argument (``local_max_edges=0`` / ``local_max_walks=0``)
and proves the two physical paths give the same output.
"""

from pyspark.sql import functions as F

import __spark_entry__ as E
import automem_spark.operators.graph as G
from automem_spark.operators.similarity import cosine_threshold_self_join
from automem_spark.sources.tables import load_table


def _count_calls(monkeypatch, module, name):
    """Wrap module.<name> with a call counter, return the counter list."""
    calls = []
    orig = getattr(module, name)

    def wrapper(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(module, name, wrapper)
    return calls


def test_cc_knob_dispatches_loop_path(spark, sf_dir, monkeypatch):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    pairs = cosine_threshold_self_join(emb, 0.25, item_id="vec_id")
    nodes = emb.select(F.col("vec_id").alias("id"))
    calls = _count_calls(monkeypatch, G, "_cc_local_labels")
    # default bound (1M) >> fixture edges: local union-find path
    a = {(r.id, r.component) for r in G.connected_components(pairs, nodes).collect()}
    assert len(calls) == 1
    # a zero bound forces the distributed propagation loop — same output
    b = {
        (r.id, r.component)
        for r in G.connected_components(pairs, nodes, local_max_edges=0).collect()
    }
    assert len(calls) == 1  # local path NOT taken again
    assert a == b


def test_supersession_knob_dispatches_loop_path(spark, sf_dir, monkeypatch):
    edges = E.edges_view(spark, sf_dir)
    calls = _count_calls(monkeypatch, G, "_supersession_local_walk")
    a = {(r.start, r.head, r.hops) for r in G.resolve_supersession(edges).collect()}
    assert len(calls) == 1 and a
    b = {
        (r.start, r.head, r.hops)
        for r in G.resolve_supersession(edges, local_max_walks=0).collect()
    }
    assert len(calls) == 1  # join-loop path this time
    assert a == b
