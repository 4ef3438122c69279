"""Bit-identity pins for the X1 hybrid-score blend.

The engine scores with ONE Spark-SQL emitter, `hybrid_score_sql_spark`,
parsed by a single `F.expr` on every recall path. Its reference twin is
the Column tree in tests/scoring_oracle.py. The two must agree exactly
(`==`) across match types, NULL columns (NULL tags count as no tags),
future timestamps, both recency curves, the tag-denominator cap, the X4
relevance gate, and both token forms: a literal `array(...)` (single-query
recall) and a token column (multi-query recall).

Reference: automem/utils/scoring.py:137-280.
"""

from dataclasses import replace

import pytest
from pyspark.sql import functions as F
from scoring_oracle import hybrid_score_expr

from automem_spark.functions.scoring import (
    DEFAULT_WEIGHTS,
    Weights,
    hybrid_score_sql_spark,
    token_array_sql,
)

NOW = "2026-06-01 00:00:00"

ROWS = [
    # (id, match_type, match_score, content, tags, importance, confidence, ts)
    (1, "keyword", 0.8, "spark window merge fast", ["lang:en"], 0.5, 0.9, "2026-05-20 00:00:00"),
    (2, "vector", 0.93, "unrelated text", ["a", "B"], 0.1, 0.2, "2026-01-01 12:00:00"),
    (3, "metadata", 0.4, None, ["x"], None, None, None),
    (4, "trending", 1.7, "spark spark merge", [], 0.9, 0.1, "2026-06-02 00:00:00"),  # future ts, clamp
    (5, "relation", None, "window fast spark merge extra", ["SPARK", "fast"], 1.0, 1.0, "2020-01-01 00:00:00"),
    (6, "other", 0.5, "", None, 0.3, 0.4, "2026-03-15 08:30:00"),
    (7, "keyword", None, "foo_bar underscore no tokens", ["merge"], 0.2, 0.6, "2026-05-31 23:59:59"),
    (8, "vector", 0.05, "merge notes only", ["Window"], 0.7, 0.8, "2026-05-01 00:00:00"),  # under the gate
]

TOKEN_SETS = [["spark", "window", "merge", "fast"], ["spark"], []]

WEIGHTS = [
    DEFAULT_WEIGHTS,
    Weights(recency_curve="exp"),
    Weights(tag_score_token_cap=2),
    replace(DEFAULT_WEIGHTS, relevance_gate=0.5),
]


@pytest.fixture(scope="module")
def frame(spark):
    df = spark.createDataFrame(
        ROWS,
        "id long, match_type string, match_score double, content string,"
        " tags array<string>, importance double, confidence double, ts string",
    )
    return df.withColumn("timestamp", F.col("ts").cast("timestamp")).drop("ts")


@pytest.mark.parametrize("tokens", TOKEN_SETS)
@pytest.mark.parametrize("widx", range(len(WEIGHTS)))
def test_fast_blend_bit_identical(frame, tokens, widx):
    w = WEIGHTS[widx]
    tree = hybrid_score_expr(
        match_type=F.col("match_type"),
        match_score=F.col("match_score"),
        content=F.col("content"),
        tags=F.col("tags"),
        importance=F.col("importance"),
        confidence=F.col("confidence"),
        timestamp=F.col("timestamp"),
        now=F.lit(NOW).cast("timestamp"),
        tokens=tokens,
        w=w,
    )
    literal = F.expr(hybrid_score_sql_spark(token_array_sql(tokens), NOW, w))
    column = F.expr(hybrid_score_sql_spark("`tokens`", NOW, w))
    rows = (
        frame.withColumn("tokens", F.expr(token_array_sql(tokens)))
        .select("id", tree.alias("tree"), literal.alias("lit"), column.alias("col"))
        .collect()
    )
    assert len(rows) == len(ROWS)
    for r in rows:
        assert r["tree"] == r["lit"] == r["col"], (
            r["id"], tokens, widx, r["tree"], r["lit"], r["col"]
        )


def test_null_tags_score_no_tag_component(spark):
    """NULL `tags` give a tag component of 0, not 1: hand-computed score of
    a keyword hit through recall(). Query "spark" on content "spark notes":
    raw 2 (content) + 2 (whole phrase) over 3*1+3 -> match_score 4/6;
    final = 0.35*4/6 + 0.2*0 + 0.05*0.5 + 0.05*0.5 + 0.15*1 (age 0)."""
    from datetime import datetime

    from automem_spark.operators.recall import RecallRequest, recall

    mem = spark.createDataFrame(
        [(1, "spark notes", None, 0.5, 0.5, datetime(2026, 6, 1), False, "Note")],
        "id long, content string, tags array<string>, importance double,"
        " confidence double, timestamp timestamp, archived boolean, type string",
    )
    (row,) = recall(mem, RecallRequest(query="spark", limit=5), now=NOW).collect()
    expected = 0.35 * (4 / 6) + 0.05 * 0.5 + 0.05 * 0.5 + 0.15 * 1.0
    assert row["match_score"] == pytest.approx(4 / 6, abs=1e-12)
    assert row["final_score"] == pytest.approx(expected, abs=1e-12)


def test_keyword_raw_score_sql_matches_tree(spark):
    """The R3 keyword CASE sum: SQL twin vs the pre-r10 Column tree."""
    from automem_spark.functions.text import extract_keywords
    from automem_spark.operators.recall import _keyword_raw_score_sql

    rows = [
        (1, "spark window merge fast content", ["lang:en", "SPARK"]),
        (2, None, None),
        (3, "", []),
        (4, "sparkling windows", ["merge"]),              # substring hits
        (5, "the whole phrase spark window merge fast!", ["fast"]),
        (6, "quote ' and backslash \\ in content", ["x"]),
    ]
    df = spark.createDataFrame(rows, "id long, content string, tags array<string>")
    for query in ["spark window merge fast", "it's a \\ tricky ' query", "xy"]:
        normalized = query.strip().lower()
        keywords = extract_keywords(normalized)
        phrase = normalized if len(normalized) >= 3 else ""
        if not keywords and not phrase:
            continue
        content = F.lower(F.coalesce(F.col("content"), F.lit("")))
        tags_l = F.transform(F.coalesce(F.col("tags"), F.array()), lambda t: F.lower(t))

        def kw_score(kw):
            return F.when(content.contains(kw), F.lit(2)).otherwise(F.lit(0)) + F.when(
                F.exists(tags_l, lambda t: t.contains(kw)), F.lit(1)
            ).otherwise(F.lit(0))

        tree = sum((kw_score(k) for k in keywords), F.lit(0))
        if phrase:
            tree = (
                tree
                + F.when(content.contains(phrase), F.lit(2)).otherwise(F.lit(0))
                + F.when(
                    F.exists(tags_l, lambda t: t.contains(phrase)), F.lit(1)
                ).otherwise(F.lit(0))
            )
        got = df.select(
            "id",
            tree.cast("double").alias("tree"),
            F.expr(_keyword_raw_score_sql(keywords, phrase)).alias("fast"),
        ).collect()
        for r in got:
            assert r["tree"] == r["fast"], (query, r["id"], r["tree"], r["fast"])


def test_dedup_key_sql_matches_tree(spark):
    """R7 dedup key + channel priority: SQL twins vs the Column forms."""
    from automem_spark.functions.text import fingerprint_expr
    from automem_spark.operators.recall import (
        CHANNEL_PRIORITY,
        _CHANNEL_PRIORITY_SQL,
        _DEDUP_KEY_SQL,
    )

    rows = [
        (1, "Some **markdown** _content_ `here` — café!", "vector"),
        (None, "same content twice", "keyword"),
        (None, "", "metadata"),
        (None, None, "trending"),
        (7, "x" * 500, "tag"),
        (None, "###    ", None),
        (None, "punct!@$%^&()+= and\ttabs\nnewlines", "unknown"),
    ]
    df = spark.createDataFrame(rows, "id long, content string, match_type string")
    fp = fingerprint_expr(F.col("content"))
    tree_key = F.coalesce(F.col("id").cast("string"), fp)
    tree_prio = F.coalesce(
        F.element_at(
            F.create_map(
                *[x for kv in CHANNEL_PRIORITY.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
            ),
            F.col("match_type"),
        ),
        F.lit(0),
    )
    got = df.select(
        tree_key.alias("tk"),
        F.expr(_DEDUP_KEY_SQL).alias("fk"),
        tree_prio.alias("tp"),
        F.expr(_CHANNEL_PRIORITY_SQL).alias("fp_"),
    ).collect()
    for r in got:
        assert r["tk"] == r["fk"], (r["tk"], r["fk"])
        assert r["tp"] == r["fp_"], (r["tp"], r["fp_"])


def test_recall_ships_identical_scores(spark, sf_dir):
    """End-to-end: recall() scores its page through the emitter and
    returns the same scores on a second build."""
    from __spark_entry__ import RECALL_QUERY, memories_view
    from automem_spark.operators.recall import RecallRequest, recall

    mem = memories_view(spark, sf_dir)
    req = RecallRequest(query=RECALL_QUERY, limit=10)
    out = recall(mem, req, now=NOW).select(
        "id", F.round("final_score", 9).alias("s")
    ).collect()
    assert len(out) > 0
    # determinism of the shipped path itself
    again = recall(mem, req, now=NOW).select(
        "id", F.round("final_score", 9).alias("s")
    ).collect()
    assert out == again


def test_scorespec_emitters_pinned():
    """The r11 spec unification (functions/scorespec.py + the fingerprint
    spec in functions/text.py) is pinned against the pre-unification texts
    captured verbatim into tests/golden/scorespec_sql.json. Intentional
    semantics changes edit the spec and regenerate the golden; accidental
    drift of either dialect fails here."""
    import json
    import os

    import __spark_entry__ as e
    from automem_spark.operators.recall import _DEDUP_KEY_SQL, _keyword_raw_score_sql

    gold = json.load(
        open(os.path.join(os.path.dirname(__file__), "golden", "scorespec_sql.json"))
    )
    kws = ["alpha", "spark", "mem-engine"]
    phrase = "find alpha spark notes"
    assert _keyword_raw_score_sql(kws, phrase) == gold["kw_spark"]
    assert _keyword_raw_score_sql(kws, "") == gold["kw_spark_nophrase"]
    assert e._kw_score_sql(kws, phrase) == gold["kw_duck"]
    assert e._kw_score_sql(kws, "") == gold["kw_duck_nophrase"]
    assert e._tag_hits_sql(kws) == gold["tag_hits_duck"]
    assert e._hybrid_sql(kws) == gold["hybrid_duck"]
    assert e._RECENCY == gold["recency_duck"]
    assert _DEDUP_KEY_SQL == gold["dedup_key_spark"]
    assert e._kw_fallback_sql(kws) == gold["kw_fallback_duck"]


def test_shipped_weights_pinned_independently():
    """Independent pin of the SHIPPED blend values (ADVICE r13).

    The DuckDB oracle's weight literals format from DEFAULT_WEIGHTS itself,
    so the oracle gate can no longer catch an accidental edit to those
    weights — both sides would move together. The QA/ranking goldens would
    catch it too, but those are routinely regenerated. This test is the one
    pin that is NOT derived from the constant and NOT regenerated: an
    unintended Weights edit must fail here first. Deliberate rebalances
    (lab-gated, like r13's) update these literals consciously.
    """
    assert DEFAULT_WEIGHTS.recency == 0.15
    assert DEFAULT_WEIGHTS.importance == 0.05
    assert DEFAULT_WEIGHTS.confidence == 0.05
    # the untouched channel weights stay at the reference defaults
    assert (
        DEFAULT_WEIGHTS.vector,
        DEFAULT_WEIGHTS.keyword,
        DEFAULT_WEIGHTS.metadata,
        DEFAULT_WEIGHTS.tag,
    ) == (0.35, 0.35, 0.35, 0.2)
    # and Weights() remains the reference-default (legacy) blend
    assert (Weights().recency, Weights().importance) == (0.1, 0.1)
