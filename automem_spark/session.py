"""SparkSession factory: the one session profile for tests, the registry
and membench.

Everything runs on local[N] (N from SPARK_GRAFT_CPUS): AQE on, skew-join
handling on, shuffle partitions = N. Keep every knob here so the tests and
the benchmarks share one profile.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(app_name: str = "automem-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime re-planning — coalesce post-shuffle partitions, convert
        # sort-merge to broadcast when a side turns out small, split skewed
        # partitions.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas_udf / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: dimension and query tables are small — let
        # them broadcast aggressively.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events table carries TIMESTAMP(NANOS) parquet columns,
        # which Spark refuses by default; read them as long and convert in
        # the loader (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin the JVM default locale (r15, ADVICE r14): Spark's lower()/
        # upper() on strings containing non-ASCII delegates to
        # java.lang.String.toLowerCase under the JVM DEFAULT locale, which
        # is deployment-dependent (a Turkish-locale JVM maps ASCII 'I' to
        # dotless 'ı' inside mixed-script strings), while the Arrow kernels'
        # Python str.lower() always applies the locale-independent Unicode
        # mapping. Pinning user.language/country keeps the kernel/expression
        # bit-identity contracts valid on any deployment; en-US and the
        # root locale agree on every case mapping the contracts exercise.
        .config("spark.driver.extraJavaOptions", "-Duser.language=en -Duser.country=US")
        .config("spark.executor.extraJavaOptions", "-Duser.language=en -Duser.country=US")
    )
    launches_jvm = SparkContext._jvm is None
    spark = builder.getOrCreate()
    if launches_jvm:
        # The unpartitioned windows are deliberate and bounded: recall()'s
        # global rank sees ≤ parts × (k' + limit + 10) pre-ranked rows, and
        # recall_full's re-ranks see ≤ limit + 50 candidates. WindowExec
        # warns on every one, so only that logger is raised to ERROR, once
        # per JVM; tests/test_plan_scale.py's assert_no_corpus_window
        # guards the unbounded case.
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    return spark
