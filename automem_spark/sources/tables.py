"""Table loaders for the driver's synthetic parquet tables plus the derived
``memories`` corpus the recall engine operates on.

The reference's canonical record is a FalkorDB ``:Memory`` node mirrored into
a Qdrant point (automem/api/memory.py:613-660, :680-702). Here the canonical
record is a row in a columnar ``memories`` DataFrame. For oracle-checkable
correctness tests we derive a deterministic memories corpus from the driver's
``documents`` table with pure SQL-expressible rules, so DuckDB can build the
bit-identical corpus from the same parquet file.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Per-session view catalog. Building these logical plans costs ~0.1-0.3s of
# py4j round-trips each, and every query used to rebuild them from scratch —
# a real engine registers a table/view once. DataFrames are immutable, so
# handing every caller the same object is safe; entries die with the session.
_VIEW_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _session_cached(spark: SparkSession, key: tuple, build) -> DataFrame:
    try:
        per = _VIEW_CACHE.setdefault(spark, {})
    except TypeError:  # un-weakref-able session shim: skip caching
        return build()
    if key not in per:
        per[key] = build()
    return per[key]


def fixture_sig(sf_dir: str, name: str) -> tuple:
    """(size, mtime_ns) signature of a fixture parquet file/dir, folded into
    every view-cache key: the cached DataFrame captures the parquet file
    listing at first build, so regenerating a fixture at the SAME path
    mid-session (e.g. re-running make_sf1.py over an existing dir) must
    invalidate the entry instead of silently serving the stale plan/data
    (advisor r10). One os.stat per lookup — microseconds against the
    milliseconds of py4j plan-building the cache saves."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            size = mtime = 0
            for part in os.listdir(path):
                st = os.stat(os.path.join(path, part))
                size += st.st_size
                mtime = max(mtime, st.st_mtime_ns)
            return (size, mtime)
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    except OSError:
        return ("absent",)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Memory-type assignment cycle: 7 canonical types (automem/config.py:183)
# plus the internal MetaPattern artifact type that recall must exclude
# (automem/config.py:164-166).
MEMORY_TYPES = [
    "Decision",
    "Pattern",
    "Preference",
    "Style",
    "Habit",
    "Insight",
    "Context",
    "MetaPattern",
]

# Metadata-sidecar field value cycles (whitelisted searchable fields,
# automem/search/runtime_recall_helpers.py:25-38).
PROJECTS = ["alpha", "beta", "gamma", "delta", "omega"]
TOOLS = ["spark", "duckdb", "flink"]

# ---------------------------------------------------------------------------
# Entity-extraction fixture (U2). The synthetic documents text is a lowercase
# bag-of-words, so none of the reference's capitalized extraction patterns
# (entity_extraction.py:184-229) would ever fire on it. We append
# deterministic entity-bearing phrases chosen by doc_id cycles — the same
# CASE expression in Spark and DuckDB — so extraction exercises every
# accept/reject gate of the quality validator on an oracle-reproducible
# corpus. Each slot is designed to hit a specific validator rule (noted).
# ---------------------------------------------------------------------------
ENTITY_PEOPLE_PHRASES = [
    "Met with Alice Johnson to review the plan.",  # accept: two-token person
    "Talked to Bob about the rollout.",  # accept: single token, conf 0.6
    "Spoke with Carol Danvers yesterday.",  # accept
    "Met with Docker Hub maintainers.",  # reject: tech tokens (docker, hub)
    "Meeting with Data Pipeline owners.",  # reject: tech tokens
    "Talked to Sam Deck today.",  # reject: non-person common token (deck)
    "Spoke with Liam de Santis.",  # accept: regex captures Liam only
    "Met with Anna Anna twice.",  # reject: repeated token fails name shape
    "We scaled with Kubernetes on the data platform.",  # people reject via context hints; tools accept
    "Paired with Gemini on the review.",  # accepted people AND tools -> tools-minus-people
    "Talked to Claude Ai about prompts.",  # reject: 'ai' tool/org suffix
    "Met with Av briefly.",  # reject: slug too short
    "",  # no phrase
]
ENTITY_TOOL_PHRASES = [
    "Using Spark for the batch layer.",  # accept
    "Deployed FlinkRunner to production.",  # accept (camelcase ok for tools)
    "Using TokenManager for auth.",  # reject: code suffix Manager
    "Configured via HTTP_PROXY settings.",  # reject: env-var shape
    "We are using notebooks daily.",  # reject: lowercase first char
    "Compared Postgres vs MySQL tradeoffs.",  # accept via 'vs' pattern
    "Using Error handling everywhere.",  # reject: blocklist (error)
    "Deploy Build tonight.",  # reject: generic slug (build)
    "Using Payment for checkout.",  # reject: abstract singleton (-ment)
    "Using Deadbeef123 for testing.",  # reject: generated hex fragment
    "Escaped via U00e9 artifacts.",  # reject: unicode-escape slug
]
ENTITY_PROJECT_PHRASES = [
    "Project Orion kickoff notes.",  # accept
    "See `DataPipeline` for details.",  # accept (backtick)
    'project called "Neon Sky" launched.',  # accept (quoted)
    "working in project: mem-engine today.",  # accept (allow_lower)
    'Cloned repo "spark-analytics" again.',  # reject: lowercase, allow_lower=False
    "See `the quick brown fox jumps` notes.",  # reject: >4 words
    "Project Phase-2 planning.",  # reject: generated phrase (phase-N)
    'project named "Sprint Wrap March 2026" wrapped.',  # reject: month+digit
    "Timed `30s` in the bench.",  # reject: duration slug
    "See `The Great Plan` doc.",  # reject: article prefix
]


def entity_fixture_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_cached(
        spark,
        ("entity_fixture_view", sf_dir, fixture_sig(sf_dir, "documents")),
        lambda: _entity_fixture_view(spark, sf_dir),
    )


def _entity_fixture_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memories corpus with entity-bearing phrase suffixes (see above)."""
    doc = load_table(spark, sf_dir, "documents")

    def cyc(phrases: list[str]) -> F.Column:
        return F.element_at(
            F.array(*[F.lit(p) for p in phrases]),
            (F.col("doc_id") % len(phrases) + 1).cast("int"),
        )

    return doc.select(
        F.col("doc_id").alias("id"),
        F.concat_ws(
            " ",
            F.col("text"),
            cyc(ENTITY_PEOPLE_PHRASES),
            cyc(ENTITY_TOOL_PHRASES),
            cyc(ENTITY_PROJECT_PHRASES),
        ).alias("content"),
    )


def _sql_phrase_cycle(phrases: list[str]) -> str:
    arr = ", ".join("'" + p.replace("'", "''") + "'" for p in phrases)
    return f"([{arr}])[(doc_id % {len(phrases)}) + 1]"


ENTITY_FIXTURE_ORACLE_CTE = f"""
amem AS (
    SELECT doc_id AS id,
           concat_ws(' ', text,
                     {_sql_phrase_cycle(ENTITY_PEOPLE_PHRASES)},
                     {_sql_phrase_cycle(ENTITY_TOOL_PHRASES)},
                     {_sql_phrase_cycle(ENTITY_PROJECT_PHRASES)}) AS content
    FROM documents
)
"""


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _session_cached(
        spark,
        ("load_table", sf_dir, name, fixture_sig(sf_dir, name)),
        lambda: _load_table(spark, sf_dir, name),
    )


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
        # parquet reader rejects unless nanos are surfaced as long. The conf
        # is a runtime SQL conf, so set it here rather than at session build —
        # the driver's harness constructs its own SparkSession and would
        # otherwise hit PARQUET_TYPE_ILLEGAL before our fallback runs.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # ts is long nanos under nanosAsLong; truncate to micros (matches
        # DuckDB's nanos→TIMESTAMP truncation for oracle parity).
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
    return df


def memories_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_cached(
        spark,
        ("memories_view", sf_dir, fixture_sig(sf_dir, "documents")),
        lambda: _memories_view(spark, sf_dir),
    )


def _memories_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic `memories` corpus from `documents`.

    Mirrors the memory schema of SURVEY.md §1.2 with pure column expressions
    (no UDFs) so the same corpus is constructible in DuckDB SQL for the
    correctness oracle. Importance/confidence/type/archived are hash-spread
    so every recall filter (F6 excluded types, F7 archived, importance
    ordering) has rows that exercise it.
    """
    doc = load_table(spark, sf_dir, "documents")
    return (
        doc.select(
            F.col("doc_id").alias("id"),
            F.col("text").alias("content"),
            F.array(
                F.concat(F.lit("lang:"), F.col("lang")),
                F.concat(F.lit("source:"), F.col("source")),
            ).alias("tags"),
            ((F.col("doc_id") * F.lit(2654435761)) % 1000 / 1000.0).alias("importance"),
            (((F.col("doc_id") * 97) + 13) % 100 / 100.0).alias("confidence"),
            F.expr(
                "timestamp '2026-01-01 00:00:00' + make_interval(0, 0, 0, cast(doc_id % 365 as int), 0, 0, 0)"
            ).alias("timestamp"),
            F.element_at(
                F.array(*[F.lit(t) for t in MEMORY_TYPES]), (F.col("doc_id") % 8 + 1).cast("int")
            ).alias("type"),
            (F.col("doc_id") % 37 == 0).alias("archived"),
            # bitemporal validity (memory.py:563-574): a sparse spread of
            # future-valid and already-expired rows so F8/J5 have work to do
            F.when(
                (F.col("doc_id") % 41 == 0) & (F.col("doc_id") > 0),
                F.lit("2026-07-01 00:00:00").cast("timestamp"),
            ).alias("t_valid"),
            F.when(
                (F.col("doc_id") % 43 == 0) & (F.col("doc_id") > 0),
                F.lit("2026-05-01 00:00:00").cast("timestamp"),
            ).alias("t_invalid"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars"),
            F.concat(F.lit("repo-"), F.col("lang")).alias("repo"),
            F.element_at(
                F.array(*[F.lit(p) for p in PROJECTS]), (F.col("doc_id") % 5 + 1).cast("int")
            ).alias("project"),
            F.element_at(
                F.array(*[F.lit(t) for t in TOOLS]), (F.col("doc_id") % 3 + 1).cast("int")
            ).alias("tool"),
            F.concat(F.lit("model-"), (F.col("doc_id") % 4).cast("string")).alias("model"),
        )
        .withColumn(
            "metadata",
            F.concat(
                F.lit('{"source": "'), F.col("source"),
                F.lit('", "repo": "'), F.col("repo"),
                F.lit('", "project": "'), F.col("project"),
                F.lit('", "tool": "'), F.col("tool"),
                F.lit('", "model": "'), F.col("model"),
                F.lit('"}'),
            ),
        )
    )


# The same derivation as ANSI SQL for DuckDB oracles (documents is a
# pre-registered view in the driver's oracle harness). Keep in lock-step with
# memories_view above.
MEMORIES_ORACLE_CTE = """
memories AS (
    SELECT
        doc_id AS id,
        text AS content,
        ['lang:' || lang, 'source:' || source] AS tags,
        ((doc_id * 2654435761) % 1000) / 1000.0 AS importance,
        ((doc_id * 97 + 13) % 100) / 100.0 AS confidence,
        TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (doc_id % 365) DAY AS timestamp,
        (['Decision','Pattern','Preference','Style','Habit','Insight','Context','MetaPattern'])[(doc_id % 8) + 1] AS type,
        (doc_id % 37 = 0) AS archived,
        CASE WHEN doc_id % 41 = 0 AND doc_id > 0
             THEN TIMESTAMP '2026-07-01 00:00:00' END AS t_valid,
        CASE WHEN doc_id % 43 = 0 AND doc_id > 0
             THEN TIMESTAMP '2026-05-01 00:00:00' END AS t_invalid,
        lang,
        source,
        n_chars,
        'repo-' || lang AS repo,
        (['alpha','beta','gamma','delta','omega'])[(doc_id % 5) + 1] AS project,
        (['spark','duckdb','flink'])[(doc_id % 3) + 1] AS tool,
        'model-' || CAST(doc_id % 4 AS STRING) AS model,
        '{"source": "' || source || '", "repo": "repo-' || lang
            || '", "project": "' || (['alpha','beta','gamma','delta','omega'])[(doc_id % 5) + 1]
            || '", "tool": "' || (['spark','duckdb','flink'])[(doc_id % 3) + 1]
            || '", "model": "model-' || CAST(doc_id % 4 AS STRING) || '"}' AS metadata
    FROM documents
)
"""
