"""SQL-expression reference twins of the dedup kernels.

The engine computes MinHash band buckets with one Arrow kernel
(`automem_spark.operators.dedup.minhash_banded_map`) and SimHash64 with an
exploded vote pass (`simhash64_signatures`). This module keeps both as plain
Spark SQL / Column expressions, so the tests can pin the kernels
bit-identical to them (tests/test_operators.py, tests/test_properties.py).
It is a test oracle only: no engine module imports it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from automem_spark.operators.dedup import (
    bucketed_candidate_pairs,
    ngram_jaccard_pairs,
    normalized_text_expr,
    shingles_expr,
)


def exploded_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(id, s): one row per word n-gram shingle of each document."""
    return docs.select(
        F.col("doc_id").alias("id"),
        F.explode(shingles_expr(F.col("text"), n)).alias("s"),
    )


def minhash_banded_sql(num_hashes: int, bands: int) -> str:
    """SQL text producing (id, band, bucket) from an exploded (id, shingle)
    frame bound as ``{exploded}`` — the signature-min and band-bucket
    extraction of `minhash_lsh_pairs` as JVM expressions.
    All arguments are module-controlled ints (no string interpolation of
    user data)."""
    rows_per_band = num_hashes // bands
    hashes = ", ".join(f"xxhash64(s, {i}) AS h{i}" for i in range(num_hashes))
    mins = ", ".join(f"min(h{i}) AS s{i}" for i in range(num_hashes))
    band_structs = ", ".join(
        "struct({b} AS band, xxhash64(concat_ws(',', {cols})) AS bucket)".format(
            b=b,
            cols=", ".join(
                f"cast(s{b * rows_per_band + r} AS string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""
        SELECT id, bb.band AS band, bb.bucket AS bucket
        FROM (
            SELECT id, explode(array({band_structs})) AS bb
            FROM (
                SELECT id, {mins}
                FROM (SELECT id, {hashes} FROM {{exploded}})
                GROUP BY id
            )
        )
    """


def minhash_banded_columns(
    exploded: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Column-tree twin of :func:`minhash_banded_sql`, the equivalence
    reference for the SQL text."""
    rows_per_band = num_hashes // bands
    hash_cols = [
        F.xxhash64(F.col("s"), F.lit(i)).alias(f"h{i}") for i in range(num_hashes)
    ]
    sigs = (
        exploded.select("id", *hash_cols)
        .groupBy("id")
        .agg(*[F.min(f"h{i}").alias(f"s{i}") for i in range(num_hashes)])
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"s{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sigs.select("id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def simhash64_expr(text: Column) -> Column:
    """64-bit SimHash of the word set: for each bit, sign of Σ±1 over token
    hashes. Pure JVM expressions (token → xxhash64 → per-bit vote).

    Bit values are 2^bit as exact double→long casts (powers of two are exact
    in IEEE754); bit 63 contributes Long.MIN_VALUE so the result is proper
    two's-complement without ANSI overflow.

    Empty tokens are filtered so an empty/punctuation-only document hashes to
    0 (split("") yields [""] which would otherwise vote with hash('')).
    """
    words = F.array_distinct(
        F.filter(F.split(normalized_text_expr(text), " "), lambda w: w != "")
    )

    def bit_value(bit: Column) -> Column:
        return F.when(bit < 63, F.pow(F.lit(2.0), bit).cast("long")).otherwise(
            F.lit(-9223372036854775808).cast("long")
        )

    # r14: bind the token-hash array as a lambda variable (same fix as
    # shingles_expr). The per-bit vote aggregate's lambda body referenced
    # the raw `hashes` subtree, and lambda bodies re-evaluate per element:
    # tokenize + xxhash64 of EVERY word ran once PER BIT (64x per row).
    # Bound, they run once; the 64 x |words| vote walk (the algorithm
    # itself) reads the bound array. Values unchanged — pinned by the
    # simhash oracle rows and the md5-twin equality tests.
    def body(hashes: Column) -> Column:
        bits = F.sequence(F.lit(0), F.lit(63))
        return F.aggregate(
            bits,
            F.lit(0).cast("long"),
            lambda acc, bit: acc
            + F.when(
                F.aggregate(
                    hashes,
                    F.lit(0).cast("long"),
                    lambda votes, h: votes
                    + F.when(F.getbit(h, bit) == 1, F.lit(1)).otherwise(F.lit(-1)),
                )
                > 0,
                bit_value(bit),
            ).otherwise(F.lit(0).cast("long")),
        )

    wrapped = F.array(F.transform(words, lambda w: F.xxhash64(w)))
    return F.element_at(F.transform(wrapped, body), 1)


def minhash_pairs_oracle(
    docs: DataFrame,
    threshold: float,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 512,
) -> DataFrame:
    """`minhash_lsh_pairs` rebuilt from the SQL banding: the same bucket
    pairing over :func:`minhash_banded_sql`'s buckets, verified by joining
    the exact `ngram_jaccard_pairs` result. (src, dst, jaccard)."""
    banded = docs.sparkSession.sql(
        minhash_banded_sql(num_hashes, bands), exploded=exploded_shingles(docs, n)
    )
    cand = bucketed_candidate_pairs(banded, max_bucket_size)
    return cand.join(ngram_jaccard_pairs(docs, threshold, n=n), ["src", "dst"])
