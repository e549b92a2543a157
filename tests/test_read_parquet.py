"""``store.read_parquet``: the schema Spark would infer, read from one
footer on the driver, so a read runs no Spark job; where there is no data
file it leaves the read, and the error, to Spark."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import count_jobs
from pyspark.errors.exceptions.captured import AnalysisException

from sycamore_spark.store import read_parquet, read_store


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """One directory per layout the library reads, by name."""
    root = tmp_path_factory.mktemp("layouts")
    docs = spark.range(40).selectExpr(
        "id AS doc_id", "CAST(id % 5 AS INT) AS bkt", "CONCAT('t', id) AS term",
        "ARRAY(id, id + 1) AS codes", "IF(id % 7 = 0, NULL, id / 3.0) AS x",
    )
    docs.write.partitionBy("bkt").parquet(str(root / "partitioned"))
    docs.write.partitionBy("bkt").parquet(str(root / "versioned" / "v=3"))
    docs.coalesce(2).write.parquet(str(root / "flat"))
    for i in range(3):
        docs.filter(f"bkt = {i}").write.parquet(str(root / "batches" / f"batch-{i}"))
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2]), "ts": pa.array([5, 6_000_000_007], pa.timestamp("ns"))}),
        str(root / "documents.parquet"),
    )
    os.makedirs(root / "hidden_only" / "_temporary")
    (root / "hidden_only" / "_SUCCESS").write_text("")
    return root


@pytest.mark.parametrize("name", [
    "partitioned", "versioned/v=3", "versioned", "flat", "batches/batch-*", "documents.parquet",
])
def test_same_schema_and_rows_without_a_job(spark, layouts, name):
    path = str(layouts / name)
    prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df, jobs = count_jobs(spark, lambda: read_parquet(spark, path))
        inferred = spark.read.parquet(path)
        assert jobs == 0
        assert df.schema == inferred.schema
        assert sorted(df.collect()) == sorted(inferred.collect())
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)


@pytest.mark.parametrize("name,condition", [
    ("missing", "PATH_NOT_FOUND"), ("hidden_only", "UNABLE_TO_INFER_SCHEMA"),
])
def test_no_data_file_raises_as_spark_does(spark, layouts, name, condition):
    path = str(layouts / name)
    for read in (lambda: read_parquet(spark, path), lambda: spark.read.parquet(path)):
        with pytest.raises(AnalysisException) as e:
            read()
        assert e.value.getCondition() == condition
    assert read_store(spark, path) is None
