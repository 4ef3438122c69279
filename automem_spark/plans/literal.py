"""Literal frames: a bounded driver-side row set back in Spark as SQL text.

A request's small working sets (seed rows, expansion candidates, BFS rows,
supersession hops) go to the driver once and come back into the plan as
one `VALUES` table. Spark folds it into a LocalRelation: no RDD, no Python
worker, and collecting it again launches no job. `literal_frame` replaces
`createDataFrame` (a Python RDD) and `localCheckpoint` (an eager job) for
such sets.

Timestamps cross the driver as epoch microseconds: `collect_rows` reads
`unix_micros` and `literal_frame` writes `timestamp_micros`. A collected
`datetime` is naive local time, which shifts whenever the Python process's
time zone is not the session's.

`spark_sorted` orders driver rows the way Spark's `orderBy` does, so a
window or sort moved onto the driver keeps its output.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)


def sql_str(s: str) -> str:
    """Spark-SQL single-quoted string literal (backslash escaping). `$` is
    written as the escape `\\u0024`: the parser substitutes `${...}` in
    the raw SQL text before it reads the literal."""
    return (
        "'"
        + s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
        + "'"
    )


def double_sql(x: float) -> str:
    """A double as a Spark-SQL literal that parses back to the same value
    (shortest round-trip repr with the `D` suffix)."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def _value_sql(v, t: DataType) -> str:
    if v is None:
        return f"CAST(NULL AS {t.simpleString()})"
    if isinstance(t, StringType):
        return sql_str(v)
    if isinstance(t, BooleanType):
        return "TRUE" if v else "FALSE"
    if isinstance(t, LongType) and v > -(2**63):
        return f"{int(v)}L"
    if isinstance(t, (ByteType, ShortType, IntegerType, LongType)):
        return f"CAST({int(v)} AS {t.simpleString()})"
    if isinstance(t, DoubleType):
        return double_sql(v)
    if isinstance(t, FloatType):
        return f"CAST({double_sql(v)} AS FLOAT)"
    if isinstance(t, TimestampType) and isinstance(v, int):
        return f"timestamp_micros({v}L)"
    if isinstance(t, ArrayType):
        if not v:
            return f"CAST(array() AS {t.simpleString()})"
        return "array(" + ", ".join(_value_sql(x, t.elementType) for x in v) + ")"
    raise TypeError(
        f"literal_frame: no literal form for {type(v).__name__} as {t.simpleString()}"
        " (timestamps cross the driver as epoch microseconds)"
    )


def literal_frame(spark: SparkSession, rows: Sequence[Sequence], schema: StructType) -> DataFrame:
    """`rows` (value sequences in `schema` order) as a DataFrame of
    `schema`'s column names and types, parsed from one SQL text."""
    fields = schema.fields
    names = ", ".join("`" + f.name.replace("`", "``") + "`" for f in fields)
    if rows:
        values, suffix = rows, ""
    else:
        # VALUES needs a row: one typed NULL row, cut by the LIMIT
        values, suffix = [[None] * len(fields)], " LIMIT 0"
    body = ", ".join(
        "(" + ", ".join(_value_sql(v, f.dataType) for v, f in zip(row, fields, strict=True)) + ")"
        for row in values
    )
    return spark.sql(f"SELECT * FROM VALUES {body} AS t({names}){suffix}")


def id_in(column: str, ids) -> Column:
    """`column IN (ids)` for integer ids, parsed from one SQL text. It
    builds in one JVM call however many ids there are; `Column.isin` makes
    one call per id (3,000 ids: about 0.1 s against 1.6 s)."""
    if not ids:
        return F.lit(False)
    body = ", ".join(f"{int(i)}L" for i in sorted(ids))
    return F.expr(f"`{column}` IN ({body})")


def collect_rows(df: DataFrame) -> list:
    """`df.collect()` with each timestamp column read as epoch
    microseconds, ready for `literal_frame(spark, rows, df.schema)`."""
    cols = [
        F.unix_micros(df[f.name]).alias(f.name)
        if isinstance(f.dataType, TimestampType)
        else df[f.name]
        for f in df.schema.fields
    ]
    return df.select(*cols).collect()


def spark_key(v) -> tuple:
    """Sort key with Spark's value order: NULL below every value, NaN above
    every number and equal to itself."""
    if v is None:
        return (0,)
    nan = v != v
    return (1, nan, 0.0 if nan else v)


def spark_sorted(rows, order: Sequence[tuple[int | str, bool]]) -> list:
    """`rows` sorted like `orderBy` over the (key, descending) pairs of
    `order`: ascending puts NULLs first, descending puts them last. Rows
    that tie on every key keep their input order."""
    out = list(rows)
    for key, desc in reversed(order):
        out.sort(key=lambda r: spark_key(r[key]), reverse=desc)
    return out
