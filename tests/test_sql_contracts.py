"""Contracts hardened in r11 (r10 verdict ask #4 + advisor findings):

- every value interpolated into a single-quoted SQL literal passes a
  charset assert AT THE INTERPOLATION SITE (not just at the producer fold
  three call-layers up);
- classify_memory_fast refuses to silently overwrite a caller's `_cls_in`
  column;
- the decontamination dispatcher distrusts plan-statistic estimates inside
  the crossover ambiguity band;
- the per-session view cache invalidates when a fixture file is
  regenerated at the same path.
"""

import os

import pytest

from automem_spark.functions.scoring import hybrid_score_sql_spark, token_array_sql
from automem_spark.functions.text import assert_sql_literal_safe, extract_keywords
from automem_spark.operators import metadata_search as ms
from automem_spark.operators.trainprep import (
    DECONTAMINATE_ESTIMATE_MARGIN,
    DECONTAMINATE_PAIRS_CROSSOVER,
    estimate_trustworthy,
)


# --- charset contract ------------------------------------------------------

def test_sql_literal_safe_accepts_producer_alphabet():
    for ok in ["spark", "mem-engine", "a_b", "2026-06-01 00:00:00",
               "2026-06-01T00:00:00+00:00", ""]:
        assert assert_sql_literal_safe(ok) == ok


@pytest.mark.parametrize("bad", ["o'brien", 'x"y', "a\\b", "a\nb", "a;--", "emojié"])
def test_sql_literal_safe_rejects(bad):
    with pytest.raises(AssertionError):
        assert_sql_literal_safe(bad)


def test_hybrid_score_sql_rejects_unsafe_token():
    with pytest.raises(AssertionError):
        token_array_sql(["fine", "o'brien"])
    with pytest.raises(AssertionError):
        hybrid_score_sql_spark(token_array_sql(["fine"]), "2026' OR 1=1 --")


def test_duckdb_emitters_reject_unsafe_token():
    # r11 verdict: the DuckDB-side scorespec emitters had skipped the
    # charset contract the Spark side got — same adversarial coverage now
    from automem_spark.functions import scorespec

    with pytest.raises(AssertionError):
        scorespec.keyword_raw_score_sql_duck(["fine", "o'brien"], "")
    # the free-text PHRASE is escaped, not asserted (legitimate punctuation)
    emitted = scorespec.keyword_raw_score_sql_duck(["fine"], "what's up? x")
    assert "'what''s up? x'" in emitted
    with pytest.raises(AssertionError):
        scorespec.tag_hits_sql_duck(["ok", 'x"y'])
    with pytest.raises(AssertionError):
        scorespec.keyword_fallback_sql_duck(["ok", "a\\b"])
    with pytest.raises(AssertionError):
        scorespec.recency_sql_duck("2026' OR 1=1 --")
    # the producer alphabet still passes (FP-neutrality)
    assert scorespec.keyword_raw_score_sql_duck(["spark", "mem-engine"], "a b")
    assert scorespec.tag_hits_sql_duck(["spark"])
    assert scorespec.keyword_fallback_sql_duck(["spark"])
    assert scorespec.recency_sql_duck("2026-06-01 00:00:00")


def test_metadata_score_sql_rejects_unsafe_token(monkeypatch):
    # query_value_tokens folds to [a-z0-9]; the asserts are defense-in-depth
    # should a future producer change leak quotes — simulate that leak
    monkeypatch.setattr(ms, "query_value_tokens", lambda q: ["ok", "bad'tok"])
    with pytest.raises(AssertionError):
        ms.metadata_score_sql_spark({"project": "`m_project`"}, "anything project alpha")
    with pytest.raises(AssertionError):
        ms.metadata_score_sql({"project": "m_project"}, "anything project alpha")


def test_producers_stay_inside_the_contract():
    # the reason the asserts are FP-neutral today: every producer strips
    # quotes/backslashes before the SQL-text builders see a token
    hostile = "o'brien \\ x\"y; DROP TABLE--  café project alpha"
    for tok in extract_keywords(hostile):
        assert_sql_literal_safe(tok)
    for tok in ms.query_value_tokens(hostile):
        assert_sql_literal_safe(tok)
    assert_sql_literal_safe(ms.ascii_search_text(hostile))


def test_public_recall_path_survives_hostile_query(spark, sf_dir):
    # end-to-end: quotes/backslashes in the user query are folded out
    # before interpolation, so the SQL-text fast path parses and runs
    from automem_spark.operators.recall import keyword_channel
    from automem_spark.sources.tables import memories_view

    pool = memories_view(spark, sf_dir)
    out = keyword_channel(pool, "o'brien \\ \"delta\" spark; --", 5)
    assert out.count() >= 0  # executes without a parse error


# --- classify staging-column guard ----------------------------------------

def test_classify_fast_rejects_reserved_column(spark):
    from automem_spark.operators.enrichment import classify_memory_fast
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("note", "x")], ["content", "_cls_in"])
    with pytest.raises(ValueError, match="_cls_in"):
        classify_memory_fast(df, F.col("content"), "cls")
    df2 = spark.createDataFrame([("note",)], ["content"])
    with pytest.raises(ValueError, match="out_col"):
        classify_memory_fast(df2, F.col("content"), "_cls_in")


# --- dispatcher ambiguity band ---------------------------------------------

def test_estimate_trustworthy_band():
    x = DECONTAMINATE_PAIRS_CROSSOVER
    m = DECONTAMINATE_ESTIMATE_MARGIN
    assert estimate_trustworthy(x / m - 1)        # clears below
    assert estimate_trustworthy(x * m + 1)        # clears above
    assert not estimate_trustworthy(x / m)        # band edge: distrust
    assert not estimate_trustworthy(x)            # at the crossover
    assert not estimate_trustworthy(x * m)        # band edge: distrust


# --- view-cache fixture invalidation ----------------------------------------

def test_session_cache_invalidates_on_fixture_regen(spark, tmp_path):
    from automem_spark.sources.tables import load_table

    sf = str(tmp_path)
    p = os.path.join(sf, "region.parquet")
    spark.range(3).toDF("r_regionkey").write.mode("overwrite").parquet(p)
    assert load_table(spark, sf, "region").count() == 3
    # regenerate the fixture AT THE SAME PATH — the advisor-r10 scenario
    spark.range(7).toDF("r_regionkey").write.mode("overwrite").parquet(p)
    assert load_table(spark, sf, "region").count() == 7
