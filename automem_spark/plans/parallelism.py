"""Partitioning helpers.

A small parquet table (the test fixtures are single-file/single-row-group)
scans as ONE input partition regardless of core count — and any heavy
per-row compute (shingling, hashing, vector math) serializes onto one core.
`ensure_parallelism` inserts one cheap round-robin shuffle ahead of such
compute when the input has fewer partitions than the session's default
parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition up to the session default parallelism when the plan's
    current partitioning is narrower. No-op on already-parallel inputs, so
    it is safe to leave in place for genuinely large sources."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df.repartition(target)
    if current < target:
        return df.repartition(target)
    return df
