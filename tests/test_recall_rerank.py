"""Adaptive floor (F10) + recency re-rank (W5) vs a direct port of the
reference's Python loops (recall.py:2315-2375)."""

import pytest
from pyspark.sql import functions as F

from automem_spark.operators.recall import adaptive_score_floor, recency_rerank


def ref_adaptive_floor(scores: list[float]) -> list[float]:
    """Direct port of recall.py:2355-2375 over a bare score list."""
    results = list(scores)
    if len(results) <= 3:
        return results
    s = sorted(results, reverse=True)
    max_gap, gap_idx = 0.0, -1
    halfway = max(3, len(s) // 2)
    for i in range(1, halfway):
        gap = s[i - 1] - s[i]
        if gap > max_gap:
            max_gap, gap_idx = gap, i
    if max_gap > 0.25 * s[0] and gap_idx > 0:
        floor = s[gap_idx]
        filtered = [x for x in results if x >= floor]
        if len(filtered) >= (len(results) + 1) // 2:
            return filtered
    return results


CASES = [
    [1.0, 0.95, 0.9, 0.3, 0.28, 0.25],          # big gap at idx 3 -> cut
    [1.0, 0.9, 0.8, 0.7, 0.6, 0.5],             # smooth -> no cut
    [1.0, 0.2, 0.19, 0.18],                      # gap at idx 1 but too few survive
    [0.5, 0.5, 0.5, 0.5, 0.5],                   # ties -> no gap
    [1.0, 0.95],                                 # n <= 3 -> untouched
    [1.0, 0.7, 0.69, 0.68, 0.67, 0.2, 0.1, 0.05],
    [0.9, 0.6, 0.55, 0.54, 0.53, 0.52],          # gap at idx 1, survivors >= half
]


@pytest.mark.parametrize("scores", CASES)
def test_adaptive_floor_matches_reference(spark, scores):
    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(scores)], "id int, final_score double"
    )
    got = sorted(r.final_score for r in adaptive_score_floor(df).collect())
    expected = sorted(ref_adaptive_floor(scores))
    assert got == pytest.approx(expected)


def test_recency_rerank_minmax(spark):
    rows = [
        (1, 0.5, "2026-01-01 00:00:00"),
        (2, 0.5, "2026-01-11 00:00:00"),
        (3, 0.5, "2026-01-21 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "id int, final_score double, ts string").withColumn(
        "timestamp", F.col("ts").cast("timestamp")
    )
    got = {r.id: r.final_score for r in recency_rerank(df).collect()}
    assert got[1] == pytest.approx(0.5)       # oldest -> +0
    assert got[2] == pytest.approx(0.55)      # middle -> +0.05
    assert got[3] == pytest.approx(0.6)       # newest -> +0.1


def test_recency_rerank_single_row_no_div_zero(spark):
    df = spark.createDataFrame(
        [(1, 0.4, "2026-01-01 00:00:00")], "id int, final_score double, ts string"
    ).withColumn("timestamp", F.col("ts").cast("timestamp"))
    got = recency_rerank(df).collect()
    assert got[0].final_score == pytest.approx(0.4)


def test_recall_many_hybrid_equals_n_single_recalls(spark, sf_dir):
    """R10/R11 contract: the one-pass multi-query fan-out must return, per
    query, exactly what N independent single-query recall() calls return
    (same ids, channels, scores to 1e-9) — the LoCoMo harness shape. Checked
    under every blend knob (recency curve, tag-denominator cap, relevance
    gate), so a knob one path honours and the other ignores fails here.
    The weight sets run in one test to keep its id stable."""
    from dataclasses import replace

    import __spark_entry__ as entry
    from automem_spark.functions.scoring import DEFAULT_WEIGHTS, Weights
    from automem_spark.operators.recall import RecallRequest, recall, recall_many_hybrid

    mem = entry.memories_view(spark, sf_dir)
    emb = entry._t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    corpus = mem.join(emb.hint("merge"), "id")
    vecs = {
        qid: entry._query_embedding(spark, sf_dir, vid)
        for qid, vid in entry.MULTI_HYBRID_VECTOR_IDS.items()
    }
    weight_sets = {
        "default": DEFAULT_WEIGHTS,
        "exp": Weights(recency_curve="exp"),
        "cap2": Weights(tag_score_token_cap=2),
        "gate0.5": replace(DEFAULT_WEIGHTS, relevance_gate=0.5),
        # keyword pages here score 0.5-0.53, so only a higher gate ramps them
        "gate0.6": replace(DEFAULT_WEIGHTS, relevance_gate=0.6),
    }
    for label, w in weight_sets.items():
        multi = {
            (r.query_id, r.id): (r.match_type, r.match_score, r.final_score)
            for r in recall_many_hybrid(
                corpus,
                entry.MULTI_HYBRID_QUERIES,
                entry.MULTI_HYBRID_LIMIT,
                query_vectors=vecs,
                meta_fields=entry._META_FIELDS,
                now=entry.NOW,
                w=w,
            ).collect()
        }
        for qid, text in entry.MULTI_HYBRID_QUERIES:
            single = recall(
                corpus,
                RecallRequest(query=text, limit=entry.MULTI_HYBRID_LIMIT, weights=w),
                query_vector=vecs.get(qid),
                now=entry.NOW,
            ).select("id", "match_type", "match_score", "final_score").collect()
            got = {(q, i) for (q, i) in multi if q == qid}
            want = {(qid, r.id) for r in single}
            assert got == want, f"{label} {qid}: id sets differ: {got ^ want}"
            for r in single:
                mt, ms, fs = multi[(qid, r.id)]
                assert mt == r.match_type, (label, qid, r.id, mt, r.match_type)
                assert ms == pytest.approx(r.match_score, abs=1e-9), (label, qid, r.id)
                assert fs == pytest.approx(r.final_score, abs=1e-9), (label, qid, r.id)


def test_context_tag_separator_cross_match(spark):
    """Reference #97 bug C (tests/test_context_tag_separator.py): the
    context-tag boost must treat 'project:foo' and 'project/foo' as the
    same tag — both the stored tag and the priority tag canonicalize
    [:/] -> ':' before matching, in either direction."""
    from pyspark.sql import functions as F

    from automem_spark.functions.scoring import context_bonus_expr

    df = spark.createDataFrame(
        [(1, ["project/foo"]), (2, ["project:foo"]), (3, ["project:bar"])],
        "id bigint, tags array<string>",
    )

    def bonus(priority):
        return {
            r.id: r.b
            for r in df.select(
                "id",
                context_bonus_expr(
                    tags=F.col("tags"),
                    mem_type=F.lit(None).cast("string"),
                    mem_id=F.col("id"),
                    priority_tags=[priority],
                ).alias("b"),
            ).collect()
        }

    colon = bonus("project:foo")
    slash = bonus("project/foo")
    assert colon[1] > 0 and colon[2] > 0  # slash-stored matches colon priority
    assert slash[1] > 0 and slash[2] > 0  # and vice versa
    assert colon[3] == 0.0 and slash[3] == 0.0
