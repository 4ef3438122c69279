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

from automem_spark.plans.literal import double_sql


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
    element parses back to exactly the same double."""
    return "array(" + ", ".join(map(double_sql, vec)) + ")"


def query_norm(vec: list[float]) -> float:
    """sqrt(Σ q_i·q_i) on the driver, summed in element order: the same
    double `norm_expr` and `dot_sql` compute per row over the literal."""
    acc = 0.0
    for x in map(float, vec):
        acc += x * x
    return math.sqrt(acc)


def cosine_to_query_sql(vec: str, query_vector: list[float]) -> tuple[str, str]:
    """Cosine of the ARRAY expression `vec` against a driver-side query
    vector, as Spark-SQL text: (bind, score).

    `bind` names the row norm `_vec_ne`; select it one projection below
    `score`, which reads it twice (Catalyst does not CSE across
    higher-order-function lambdas, so an inline norm costs another O(d)
    pass per row). The query norm is computed once on the driver and bound
    as a literal (`query_norm`): denom = ne * nq is the same product of the
    same doubles as with a per-row query norm, so the score is unchanged;
    0.0 when either norm is 0."""
    qv = vector_literal_sql(query_vector)
    nq = double_sql(query_norm(query_vector))
    bind = f"sqrt({dot_sql(vec, vec)}) AS _vec_ne"
    score = (
        f"CASE WHEN _vec_ne * {nq} = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)"
        f" ELSE {dot_sql(vec, qv)} / (_vec_ne * {nq}) END"
    )
    return bind, score


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
