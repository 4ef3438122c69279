"""Deterministic `edges` fixture derived from the documents table.

The reference's graph lives in FalkorDB (14 edge types, automem/config.py:273-397).
The driver supplies no edges parquet, so the graph operators are exercised on
an arithmetic edge set derived from doc_ids — written ONCE in a SQL dialect
shared by Spark SQL and DuckDB, so the correctness oracle constructs the
bit-identical graph.

Topology requirements covered (FIXTURES.md Table 2):
- all major rel types + a legacy EXPLAINS row (canonicalization target)
- per-type numeric-attribute variants for the strength-coalesce read
  (strength | score | confidence | similarity | cnt — runtime_relations.py:35-42)
- INVALIDATED_BY chains of length 6 (exceeds the 5-hop cap), 2, 1 and a
  2-cycle (40<->41); EVOLVED_INTO chain of length 3 (recall.py:452-593)
- a hub node (id 5) with 8 outgoing edges (relation-limit trim, J1)
- per-hop activity-gating cases (recall.py:452-520): 60 has two edges whose
  NEWEST target (86, expired under the memories fixture: 86%43=0) is
  inactive and whose older target (61) is active -> the gated walk must
  fall back; 70->71->82 and 100->101->86 end on inactive tails -> the gated
  walk stops at the last active node (71 / 101)

Edges restricted to doc_id < 500 so the graph is identical at every sf.
`updated_at_epoch` is BIGINT epoch-seconds (shared dialect; avoids
timestamp-precision skew between engines).
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

# No WITH clause here: the fixture must be embeddable as a CTE body inside
# a WITH RECURSIVE list (DuckDB rejects nested WITH there); `d` is an inline
# subquery instead.
EDGES_SQL = """
SELECT doc_id AS src, (doc_id * 7 + 1) % 500 AS dst, 'RELATES_TO' AS rel_type,
       ((doc_id * 13) % 100) / 100.0 AS strength, CAST(NULL AS DOUBLE) AS score,
       CAST(NULL AS DOUBLE) AS confidence, CAST(NULL AS DOUBLE) AS similarity,
       CAST(NULL AS BIGINT) AS cnt, CAST(NULL AS STRING) AS kind,
       CAST(NULL AS STRING) AS origin,
       1767225600 + ((doc_id * 3) % 400) * 3600 AS updated_at_epoch
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id, (doc_id * 11 + 3) % 500, 'SIMILAR_TO',
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       ((doc_id * 17) % 100) / 100.0, CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       1767225600 + ((doc_id * 5) % 400) * 3600
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id, doc_id - 1, 'PRECEDED_BY',
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(doc_id % 4 + 1 AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       CAST(NULL AS BIGINT)
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id % 5 = 0 AND doc_id > 0
UNION ALL
SELECT doc_id, (doc_id + 7) % 500, 'PREFERS_OVER',
       ((doc_id * 29) % 100) / 100.0, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       1767225600 + ((doc_id * 7) % 400) * 3600
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id % 13 = 0
UNION ALL
SELECT doc_id, (doc_id + 11) % 500, 'EXEMPLIFIES',
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), ((doc_id * 31) % 100) / 100.0,
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       1767225600 + ((doc_id * 11) % 400) * 3600
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id % 17 = 0
UNION ALL
SELECT doc_id, (doc_id + 3) % 500, 'CONTRADICTS',
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       1767225600 + ((doc_id * 13) % 400) * 3600
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id % 23 = 0
UNION ALL
SELECT doc_id, (doc_id + 13) % 500, 'DISCOVERED',
       CAST(NULL AS DOUBLE), ((doc_id * 37) % 100) / 100.0, CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CASE WHEN doc_id % 3 = 0 THEN 'explains'
            WHEN doc_id % 3 = 1 THEN 'shares_theme'
            ELSE 'parallel_context' END,
       'consolidation',
       1767225600 + ((doc_id * 17) % 400) * 3600
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id % 19 = 0
UNION ALL
SELECT doc_id, (doc_id + 17) % 500, 'EXPLAINS',
       CAST(NULL AS DOUBLE), 0.5, CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       1767225600 + ((doc_id * 19) % 400) * 3600
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id % 47 = 0
UNION ALL
SELECT doc_id, doc_id + 1, 'INVALIDATED_BY',
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       1767225600 + doc_id * 3600
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE (doc_id BETWEEN 10 AND 15) OR (doc_id BETWEEN 20 AND 21)
          OR doc_id = 30 OR doc_id = 40
UNION ALL
SELECT doc_id, 40, 'INVALIDATED_BY',
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       1767225600 + doc_id * 3600
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id = 41
UNION ALL
SELECT doc_id, doc_id + 1, 'EVOLVED_INTO',
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       1767225600 + doc_id * 3600
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id BETWEEN 50 AND 52
UNION ALL
SELECT 5, doc_id, 'RELATES_TO',
       (doc_id % 10) / 10.0, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       1767225600 + ((doc_id * 23) % 400) * 3600
FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d WHERE doc_id BETWEEN 100 AND 107
UNION ALL
SELECT v.src, v.dst, 'INVALIDATED_BY',
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       CAST(NULL AS STRING), CAST(NULL AS STRING),
       CAST(v.ep AS BIGINT)
FROM (VALUES
    (60, 86, 1770789600),
    (60, 61, 1769025600),
    (70, 71, 1767477600),
    (71, 82, 1767481200),
    (100, 101, 1767585600),
    (101, 86, 1767589200)
) AS v(src, dst, ep)
"""

EDGES_ORACLE_CTE = "edges AS (" + EDGES_SQL + ")"


def _edges_cache_path(sf_dir: str) -> str:
    """Per-(fixture-SQL, sf_dir, documents-data) parquet cache dir under
    the repo root. The key hashes EDGES_SQL (editing the fixture
    invalidates the cache) AND the documents parquet's size+mtime —
    regenerating data at the SAME path (e.g. `make_sf1.py 30 .sf1` over an
    existing dir) must not silently serve edges derived from the old
    data while the DuckDB oracle re-derives them from the new."""
    doc = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    try:
        stat = os.stat(doc)
        stamp = f"{stat.st_size}-{stat.st_mtime_ns}"
    except OSError:
        stamp = "absent"
    key = hashlib.md5(
        (EDGES_SQL + "|" + os.path.abspath(sf_dir) + "|" + stamp).encode()
    ).hexdigest()[:10]
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(repo, ".fixture_cache", f"edges-{key}")


def edges_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from automem_spark.sources.tables import _session_cached, fixture_sig

    return _session_cached(
        spark,
        ("edges_view", sf_dir, fixture_sig(sf_dir, "documents")),
        lambda: _edges_view(spark, sf_dir),
    )


def _edges_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The edges fixture, served as ONE parquet scan.

    Materialized once per (fixture, sf_dir) and read back, instead of
    re-evaluating the 13-branch UNION (13 `documents` scans) inside every
    graph query — in production the edge set IS a stored table, and the
    r6 plan audit showed the inline UNION inflating every graph row's plan
    with 7-30x `documents` re-scans that are fixture noise, not operator
    cost. First call computes + writes atomically (tmp dir + rename);
    concurrent builders race benignly — the loser discards its tmp copy.
    The DuckDB oracle keeps deriving the same rows independently via
    EDGES_ORACLE_CTE, so the correctness gate still cross-checks the
    fixture itself."""
    path = _edges_cache_path(sf_dir)
    if not os.path.isdir(path):
        from automem_spark.sources.tables import load_table

        load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
        df = spark.sql(EDGES_SQL).coalesce(1)
        tmp = f"{path}.tmp-{os.getpid()}"
        df.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)
