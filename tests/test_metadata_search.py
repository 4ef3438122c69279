"""Equivalence pins for the R5 metadata sidecar scorer's two Spark builds.

The scorer exists in three lockstep forms: the one-`F.expr` Spark-SQL
scorer (`metadata_score_expr_fast`, the only one the engine ships), the
Column tree builder (`metadata_score_expr` in tests/metadata_oracle.py,
the reference twin), and the DuckDB oracle text (`metadata_score_sql`,
exercised by scripts/check_correctness.py). These tests pin the two Spark forms
bit-identical so the shipped scorer cannot drift from the form the oracle
was validated against.

Reference: automem/search/runtime_recall_helpers.py:270-340 (scorer),
:245-267 (strong-evidence gates), :727-868 (channel).
"""

import pytest
from pyspark.sql import functions as F

from metadata_oracle import metadata_score_expr

from automem_spark.operators.metadata_search import (
    metadata_channel,
    metadata_score_expr_fast,
)
from automem_spark.operators.recall import RecallRequest, base_filter
from automem_spark.sources.tables import memories_view

FIELDS = ["source", "repo", "project", "tool", "model"]

QUERIES = [
    # flagship recall query: no field tokens -> nothing "requested"
    "spark window merge fast",
    # field-scoped: 'project' + 'tool' are field tokens, 'alpha'/'duckdb' values
    "find memories from project alpha with duckdb",
    # unscoped value-only
    "duckdb memories",
    # repo requested -> exercises the covers-all repo rule
    "repo repo-en merge window",
    # single value token (hit_len / exact-hit single-token branches)
    "alpha",
    # stopwords + short tokens only -> empty qvt -> constant 0.0
    "to me by on",
]

ADVERSARIAL_ROWS = [
    # (source, repo, project, tool, model)
    (None, None, None, None, None),
    ("", "", "", "", ""),
    ("  ", "\t\n", " . ", "--", "__"),
    ("café", "naïve-repo", "björk", "ascii", "model-1"),
    ("ALPHA", "Repo-En", "alpha beta gamma", "duckdb", "spark"),
    ("alpha", "repo-en", "alpha", "alpha", "alpha"),
    ("a", "ab", "abc", "abcd", "abcde"),
    ("123", "4 5 6", "spark window merge fast", "merge", "window fast"),
    ("x" * 300, "spark-window", "merge_fast", "merge.fast", "merge,fast"),
    ("spark window", "window spark", "spark spark", "fast", "merge"),
]


@pytest.fixture(scope="module")
def adversarial(spark):
    return spark.createDataFrame(
        [(i, *r) for i, r in enumerate(ADVERSARIAL_ROWS)],
        "id long, source string, repo string, project string, tool string,"
        " model string",
    )


@pytest.mark.parametrize("query", QUERIES)
def test_fast_scorer_bit_identical_on_corpus(spark, sf_dir, query):
    mem = memories_view(spark, sf_dir)
    fields = {f: F.col(f) for f in FIELDS}
    got = (
        mem.select(
            "id",
            metadata_score_expr(fields, query).alias("tree"),
            metadata_score_expr_fast(FIELDS, query).alias("fast"),
        )
        .filter(F.col("tree") != F.col("fast"))
        .count()
    )
    assert got == 0


@pytest.mark.parametrize("query", QUERIES)
def test_fast_scorer_bit_identical_adversarial(adversarial, query):
    fields = {f: F.col(f) for f in FIELDS}
    rows = adversarial.select(
        "id",
        metadata_score_expr(fields, query).alias("tree"),
        metadata_score_expr_fast(FIELDS, query).alias("fast"),
    ).collect()
    for r in rows:
        assert r["tree"] == r["fast"], (r["id"], r["tree"], r["fast"])


def test_fast_scorer_type_is_double(spark, sf_dir):
    # bare decimal literals in Spark SQL parse as DECIMAL; the generator
    # must cast every operand so the result type matches the Column twin
    mem = memories_view(spark, sf_dir)
    out = mem.select(
        metadata_score_expr_fast(FIELDS, QUERIES[0]).alias("s")
    )
    assert dict(out.dtypes)["s"] == "double"


def test_channel_uses_fast_path_and_matches_tree(spark, sf_dir):
    """End-to-end channel parity: the shipped channel (fast path) returns
    exactly what a tree-built channel returns, scores included."""
    mem = memories_view(spark, sf_dir)
    pool = base_filter(mem, RecallRequest())
    fields = {f: F.col(f) for f in FIELDS}
    query = "find memories from project alpha with duckdb"
    fast = metadata_channel(pool, query, 10, FIELDS)
    tree = (
        pool.filter(F.lower(F.coalesce(F.col("metadata"), F.lit(""))).contains("alpha")
                    | F.lower(F.coalesce(F.col("metadata"), F.lit(""))).contains("duckdb"))
        .withColumn("match_score", metadata_score_expr(fields, query))
        .filter(F.col("match_score") > 0)
        .withColumn("match_type", F.lit("metadata"))
        .orderBy(F.desc("match_score"), F.desc("importance"), F.desc("timestamp"), F.asc("id"))
        .limit(10)
    )
    got = [(r["id"], r["match_score"]) for r in fast.collect()]
    want = [(r["id"], r["match_score"]) for r in tree.collect()]
    assert got == want
    assert len(got) > 0


def test_spec_generator_emits_pinned_texts():
    """The r11 unification (one spec + one generator -> both SQL dialects)
    is pinned against the pre-unification texts, captured verbatim into
    tests/golden/metadata_score_sql.json. An INTENTIONAL semantics change
    edits METADATA_SCORE_SPEC / _metadata_score_text and regenerates the
    golden; an accidental drift of either dialect fails here."""
    import json
    import os

    from automem_spark.operators import metadata_search as ms

    path = os.path.join(os.path.dirname(__file__), "golden", "metadata_score_sql.json")
    gold = json.load(open(path))
    fields_spark = {"project": "`m_project`", "tool": "`m_tool`", "repo": "`m_repo`"}
    fields_duck = {"project": "m_project", "tool": "m_tool", "repo": "m_repo"}
    for q, pair in gold.items():
        assert ms.metadata_score_sql_spark(fields_spark, q) == pair["spark"], q
        assert ms.metadata_score_sql(fields_duck, q) == pair["duck"], q
