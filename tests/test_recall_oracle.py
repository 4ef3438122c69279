"""Differential pin: the single-pass `recall()` returns exactly the rows,
in exactly the order, of the channel-union reference in
tests/recall_oracle.py (`==` on every output column).

The hand-built frame makes every channel rule observable:
- a tag equals a query token (`spark`), so the tag component and its cap
  move scores;
- rows carry `tool`/`metadata`, so the metadata channel returns rows;
- NULL-id rows take the fingerprint dedup, and two of them share content;
- a `tiny`-tagged pool of 4 rows is smaller than the limit, so keyword
  rows fill the slots the vector channel leaves open;
- `min_score` drops a vector row while its keyword or metadata row
  survives;
- a zero embedding takes the zero-denominator branch of the cosine.
It is spread over 4 input partitions, so the per-partition cut prunes.
"""

from __future__ import annotations

from dataclasses import replace
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F
from recall_oracle import recall as oracle_recall

from automem_spark.functions.scoring import DEFAULT_WEIGHTS, Weights
from automem_spark.operators.recall import RecallRequest, recall

NOW = "2026-06-01 00:00:00"
QV = [1.0, 0.0, 0.0, 0.0]
QUERY = "spark grafana dashboards"

WEIGHTS = {
    "default": DEFAULT_WEIGHTS,
    "exp": Weights(recency_curve="exp"),
    "cap2": Weights(tag_score_token_cap=2),
    "gate0.5": replace(DEFAULT_WEIGHTS, relevance_gate=0.5),
    "gate0.6": replace(DEFAULT_WEIGHTS, relevance_gate=0.6),
}

CONTENT = [
    "spark window merge notes",
    "grafana dashboards for the spark cluster",
    "quarterly planning doc",
    "spark streaming checkpoint tuning",
    "dashboards review with the ops team",
    "grafana alert routing",
    "notes on merge conflicts",
    "spark grafana dashboards rollout",
]
TAGS = [["spark"], ["team"], ["ops", "lang:en"], ["Spark", "team"], []]
BASE = datetime(2026, 1, 1)


def _rows():
    rows = []
    for i in range(1, 25):
        tool = "grafana" if i % 5 == 0 else "jira"
        rows.append((
            i, CONTENT[i % len(CONTENT)], TAGS[i % len(TAGS)],
            round((i * 37 % 100) / 100, 2), round((i * 53 % 100) / 100, 2),
            BASE + timedelta(days=5 * i), "Memory", False,
            tool, f'{{"tool": "{tool}"}}', f"src{i % 3}",
            [1.0 - i / 25, (i % 7) / 7, (i % 3) / 3, 0.5],
        ))
    rows += [
        # metadata match with an orthogonal embedding (cosine 0)
        (30, "weekly ops notes", ["ops"], 0.3, 0.5, BASE + timedelta(days=70),
         "Memory", False, "grafana", '{"tool": "grafana"}', "src0",
         [0.0, 1.0, 0.0, 0.0]),
        # zero embedding: the cosine's zero-denominator branch
        (31, "spark notes with zero vector", ["spark"], 0.6, 0.6,
         BASE + timedelta(days=90), "Memory", False, "jira", "{}", "src1",
         [0.0, 0.0, 0.0, 0.0]),
        # excluded from every pool
        (32, "spark grafana archived", ["spark"], 0.9, 0.9, BASE, "Memory",
         True, "grafana", '{"tool": "grafana"}', "src0", [1.0, 0.0, 0.0, 0.0]),
        (33, "spark grafana pattern", ["spark"], 0.9, 0.9, BASE, "MetaPattern",
         False, "grafana", '{"tool": "grafana"}', "src0", [1.0, 0.0, 0.0, 0.0]),
        # the `tiny` pool: 4 rows, three with a NULL id (fingerprint dedup;
        # two share their content)
        (None, "sparkly grafanas", ["tiny", "spark"], 0.2, 0.4,
         BASE + timedelta(days=10), "Memory", False, "jira", "{}", "src2",
         [0.0, 1.0, 0.0, 0.0]),
        (None, "sparkly grafanas", ["tiny"], 0.4, 0.4, BASE + timedelta(days=20),
         "Memory", False, "jira", "{}", "src2", [0.0, 0.0, 1.0, 0.0]),
        (None, "tiny dashboards", ["tiny"], 0.5, 0.4, BASE + timedelta(days=30),
         "Memory", False, "grafana", '{"tool": "grafana"}', "src2",
         [0.2, 0.9, 0.0, 0.0]),
        (40, "tiny sparkly note", ["tiny"], 0.7, 0.4, BASE + timedelta(days=40),
         "Memory", False, "jira", "{}", "src2", [0.5, 0.5, 0.5, 0.5]),
    ]
    return rows


@pytest.fixture(scope="module")
def mem(spark):
    df = spark.createDataFrame(
        _rows(),
        "id long, content string, tags array<string>, importance double,"
        " confidence double, timestamp timestamp, type string, archived boolean,"
        " tool string, metadata string, source string, embedding array<double>",
    )
    return df.repartition(4, "content")


REQUESTS = {
    "plain": RecallRequest(query=QUERY, limit=5),
    "limit2": RecallRequest(query=QUERY, limit=2),
    "tags": RecallRequest(query=QUERY, limit=5, tags=["team"]),
    "window": RecallRequest(
        query=QUERY, limit=5, start="2026-02-01 00:00:00", end="2026-04-15 00:00:00"
    ),
    "exclude": RecallRequest(query=QUERY, limit=5, exclude_tags=["spark"]),
    "tiny": RecallRequest(query=QUERY, limit=5, tags=["tiny"]),
    "tiny_min": RecallRequest(query=QUERY, limit=5, tags=["tiny"], min_score=0.2),
    "min_score": RecallRequest(query=QUERY, limit=20, min_score=0.4),
    "empty": RecallRequest(query="", limit=5),
    "star": RecallRequest(query="*", limit=5),
    "two_chars": RecallRequest(query="ab", limit=5),
    "time_desc": RecallRequest(query=QUERY, limit=5, sort="time_desc"),
    "time_asc": RecallRequest(query=QUERY, limit=5, sort="time_asc"),
}


def _both(mem, req, qv):
    got = recall(mem, req, query_vector=qv, now=NOW)
    want = oracle_recall(mem, req, query_vector=qv, now=NOW).select(*got.columns)
    return got.collect(), want.collect()


@pytest.mark.parametrize("wname", list(WEIGHTS))
def test_recall_equals_channel_union_oracle(mem, wname):
    seen = set()
    for name, req in REQUESTS.items():
        req = replace(req, weights=WEIGHTS[wname])
        for qv in (QV, None):
            got, want = _both(mem, req, qv)
            assert got == want, (name, qv is not None)
            seen |= {(name, qv is not None, r.match_type) for r in got}
    # the frame exercises the rules it exists for
    if wname == "default":
        assert ("tiny_min", True, "keyword") in seen
        assert ("min_score", True, "metadata") in seen
        assert ("plain", False, "metadata") in seen
        assert ("two_chars", False, "trending") in seen


def test_recall_drops_embedding_column(mem):
    out = recall(mem, REQUESTS["plain"], query_vector=QV, now=NOW)
    assert "embedding" not in out.columns
    assert out.columns[-3:] == ["match_score", "match_type", "final_score"]


def test_recall_equals_oracle_on_fixture_corpus(spark, sf_dir):
    """The registry fixture (with metadata columns and joined embeddings)."""
    from automem_spark.sources.tables import load_table, memories_view

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).collect()[0].embedding]
    corpus = memories_view(spark, sf_dir).join(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
    )
    for req in (
        RecallRequest(query="spark window merge", limit=5),
        RecallRequest(query="spark window merge", limit=5, tags=["lang:en"]),
        RecallRequest(query="", limit=7, start="2026-02-01 00:00:00"),
    ):
        for q in (qv, None):
            got, want = _both(corpus, req, q)
            assert got == want and got, (req, q is not None)
