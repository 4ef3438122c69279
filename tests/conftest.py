import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from automem_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("automem-spark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def recall_corpus(spark, sf_dir, tmp_path_factory):
    """The fixture memories joined with their embeddings, written to one
    parquet file set and read back: a recall over it reads one file source,
    as membench's resident corpus does. Returns (corpus, query vector)."""
    from pyspark.sql import functions as F

    from automem_spark.sources.tables import load_table, memories_view

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).collect()[0].embedding]
    path = str(tmp_path_factory.mktemp("recall_corpus") / "memories")
    memories_view(spark, sf_dir).join(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
    ).write.parquet(path)
    return spark.read.parquet(path), qv
