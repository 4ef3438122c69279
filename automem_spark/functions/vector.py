"""Vector primitives: cosine similarity expressions + the deterministic
placeholder embedding.

The reference stores one 1024-d vector per memory in Qdrant and queries with
cosine distance (automem/stores/runtime_clients.py:146). In Spark the
embedding is just an `array<float>` column; cosine is a column expression
(JVM-side) or a NumPy matmul inside mapInPandas for the bulk path.

The placeholder embedding (automem/embedding/runtime_helpers.py:50-55,
automem/embedding/placeholder.py:28-42) is reimplemented bit-exactly:
SHA-256(content) first 8 bytes little-endian seeds random.Random, then D
uniform floats. Deterministic => vector rankings reproducible across engines.
"""

from __future__ import annotations

import hashlib
import math
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


def dot_expr(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] in double precision (matches DuckDB list_dot_product on
    DOUBLE[] for oracle parity)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision; 0.0 when either norm is 0
    (consolidation.py:104-118)."""
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot_expr(a, b) / denom)


def dot_sql(a: str, b: str) -> str:
    """`dot_expr` as Spark-SQL text over two ARRAY expressions: the same
    element products summed in the same order, so the result is the same
    double."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def vector_literal_sql(vec: list[float]) -> str:
    """A driver-side vector as a Spark-SQL ARRAY<DOUBLE> literal; each
    element parses back to exactly the same double (shortest round-trip
    repr with the `D` suffix)."""
    return "array(" + ", ".join(
        f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"
        for x in map(float, vec)
    ) + ")"


def placeholder_embedding(content: str, dim: int = 64) -> list[float]:
    """Bit-exact twin of the reference placeholder provider
    (automem/embedding/placeholder.py:28-42)."""
    digest = hashlib.sha256(content.encode("utf-8")).digest()
    seed = int.from_bytes(digest[:8], "little", signed=False)
    rng = random.Random(seed)
    return [rng.random() for _ in range(dim)]


def placeholder_embedding_udf(dim: int = 64):
    """Arrow-batched pandas UDF computing placeholder embeddings executor-side.

    Python is unavoidable here (SHA-256 + Mersenne Twister semantics), so it
    runs as a vectorized pandas_udf — one Arrow batch per invocation, not one
    Python call per row.
    """

    @F.pandas_udf(ArrayType(DoubleType()))
    def _embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(lambda c: placeholder_embedding(c or "", dim))

    return _embed


def coerce_embedding_expr(value: Column, expected_dim: int) -> Column:
    """Client-supplied embedding coercion
    (automem/embedding/runtime_helpers.py:30-47): a comma-separated string
    becomes a float vector; the result must have exactly `expected_dim`
    numeric components. Returns struct(embedding array<double>,
    status string) — status 'ok' | 'empty' | 'wrong_dim' | 'non_numeric',
    the batch analog of the reference's raise (invalid rows are flagged for
    a rejects sink instead of failing the job, same pattern as the UUID and
    type-alias validators). try_cast keeps the expression ANSI-safe."""
    raw = value.cast("string")
    parts = F.filter(
        F.transform(F.split(F.coalesce(raw, F.lit("")), ","), lambda p: F.trim(p)),
        lambda p: p != "",
    )
    nums = F.transform(parts, lambda p: p.try_cast("double"))
    is_empty = raw.isNull() | (raw == "")
    wrong_dim = F.size(parts) != expected_dim
    non_numeric = F.exists(nums, lambda n: n.isNull())
    status = (
        F.when(is_empty, F.lit("empty"))
        .when(wrong_dim, F.lit("wrong_dim"))
        .when(non_numeric, F.lit("non_numeric"))
        .otherwise(F.lit("ok"))
    )
    emb = F.when(status == "ok", nums).otherwise(
        F.lit(None).cast("array<double>")
    )
    return F.struct(emb.alias("embedding"), status.alias("status"))
