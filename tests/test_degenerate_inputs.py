"""Degenerate-input sweep: every major operator family must handle an EMPTY
input frame without raising and return an empty (or identity) result with
the right schema.

This is the bug class the round-4 advisor caught in backup_export (empty
tables dict → AttributeError): plans that are correct on any non-empty
corpus but die on the zero-row edge a real pipeline hits constantly
(an empty partition, a filter that matched nothing, a cold-start table).
"""

import pytest


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string, source string")


@pytest.fixture(scope="module")
def empty_mem(spark):
    return spark.createDataFrame(
        [],
        "id bigint, content string, tags array<string>, importance double,"
        " confidence double, timestamp timestamp, type string, archived boolean,"
        " t_valid timestamp, t_invalid timestamp, metadata string",
    )


@pytest.fixture(scope="module")
def empty_edges(spark):
    return spark.createDataFrame(
        [],
        "src bigint, dst bigint, rel_type string, strength double, score double,"
        " confidence double, similarity double, cnt bigint, kind string,"
        " origin string, updated_at_epoch bigint",
    )


def test_recall_on_empty_corpus(spark, empty_mem, empty_edges):
    from automem_spark.operators.recall import RecallRequest, recall, recall_full

    req = RecallRequest(query="anything at all", limit=5)
    assert recall(empty_mem, req).count() == 0
    assert recall_full(empty_mem, empty_edges, req).count() == 0


def test_null_tags_row_is_untagged(spark, empty_mem):
    """A memory whose `tags` is NULL is untagged: an exclude_tags recall
    keeps it, the scope fallback can fill from it, and delete-by-tag
    leaves it in place."""
    import datetime

    from automem_spark.operators.ingest import delete_by_tag
    from automem_spark.operators.recall import (
        RecallRequest,
        recall,
        recall_with_scope_fallback,
    )

    ts = datetime.datetime(2026, 5, 1)
    rows = [
        (1, "alpha note one", ["a"]),
        (2, "alpha note two", None),
        (3, "alpha note three", ["b"]),
    ]
    mem = spark.createDataFrame(
        [
            (i, c, t, 0.5, 0.9, ts, "Context", False, None, None, None)
            for i, c, t in rows
        ],
        empty_mem.schema,
    )
    got = recall(mem, RecallRequest(query="alpha", limit=5, exclude_tags=["a"]))
    assert sorted(r.id for r in got.collect()) == [2, 3]
    scoped = recall_with_scope_fallback(
        mem, RecallRequest(query="alpha", limit=5, tags=["a"])
    ).collect()
    assert {(r.id, r.in_scope) for r in scoped} == {(1, True), (2, False), (3, False)}
    assert sorted(r.id for r in delete_by_tag(mem, ["a"]).collect()) == [2, 3]


def test_dedup_family_on_empty(spark, empty_docs):
    from automem_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    assert exact_dedup(empty_docs).count() == 0
    assert ngram_jaccard_pairs(empty_docs, 0.4).count() == 0
    assert minhash_lsh_pairs(empty_docs, 0.4, num_hashes=16, bands=4).count() == 0
    assert simhash_pairs(empty_docs, max_hamming=3).count() == 0


def test_graph_loops_on_empty(spark):
    from automem_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([], "src bigint, dst bigint")
    nodes = spark.createDataFrame([], "vec_id bigint")
    assert connected_components(pairs, nodes, node_id="vec_id").count() == 0
    # singleton-only graph: no edges, nodes pass through as identity labels
    nodes2 = spark.createDataFrame([(1,), (2,)], "vec_id bigint")
    out = {r.id: r.component for r in connected_components(pairs, nodes2, node_id="vec_id").collect()}
    assert out == {1: 1, 2: 2}


def test_trainprep_on_empty(spark, empty_docs):
    from automem_spark.operators.trainprep import (
        data_mix_sample,
        decontaminate,
        mix_census,
        packing_census,
        pii_redact,
    )

    some = spark.createDataFrame(
        [(1, "the quick brown fox", "web")], "doc_id bigint, text string, source string"
    )
    # empty training side and empty eval side, separately
    assert decontaminate(empty_docs, some).count() == 0
    out = decontaminate(some, empty_docs).collect()
    assert len(out) == 1 and out[0]["contaminated"] is False
    assert pii_redact(empty_docs).count() == 0
    assert data_mix_sample(empty_docs, {"web": 1.0}).count() == 0
    assert mix_census(empty_docs, {"web": 1.0}).count() == 0
    assert packing_census(empty_docs).count() == 0


def test_vector_ops_on_empty(spark):
    from automem_spark.operators.similarity import (
        cosine_threshold_self_join,
        cosine_topk_mapinpandas,
    )

    emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert cosine_threshold_self_join(emb, 0.5, item_id="vec_id").count() == 0
    q = [("0", [1.0, 0.0])]
    assert cosine_topk_mapinpandas(emb, q, 5, item_id="vec_id").count() == 0
    # a row without an embedding has no point in the vector space: skipped,
    # not a crash
    emb = spark.createDataFrame(
        [(1, None), (2, [0.0, 1.0]), (3, [1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    got = cosine_topk_mapinpandas(emb, q, 5, item_id="vec_id").collect()
    assert sorted((r.id, r.sim) for r in got) == [(2, 0.0), (3, 1.0)]


def test_identity_synthesis_on_empty(spark, empty_mem, empty_edges):
    from automem_spark.operators.identity import identity_synthesis_plan

    entities = spark.createDataFrame(
        [], "id bigint, slug string, category string, aliases array<string>, merged_into bigint"
    )
    refs = spark.createDataFrame([], "entity_id bigint, memory_id bigint")
    out = identity_synthesis_plan(
        entities, refs, empty_mem, empty_edges, now="2026-06-01 00:00:00"
    )
    assert out.count() == 0


def test_pii_redact_null_text(spark):
    from pyspark.sql import Row

    from automem_spark.operators.trainprep import pii_redact

    df = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="mail a@b.co")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert out[1]["n_pii"] == 0 and out[1]["clean_text"] == ""
    assert out[2]["n_email"] == 1
