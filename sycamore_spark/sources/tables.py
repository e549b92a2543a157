"""Parquet table sources for the synthetic star schema.

Reference parity: the reference's scan layer (``connectors/file/file_scan.py``,
``reader.py``) produces row-oriented Documents; here scans are plain
``spark.read.parquet`` so Catalyst gets pushdown + pruning + partition
pruning for free (SURVEY.md §2.1). Tables are read with
``store.read_parquet``, which takes the schema from one footer on the
driver instead of in a schema-inference job.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sycamore_spark.store import read_parquet

TABLE_NAMES = (
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
)


def ensure_conf(spark: SparkSession) -> None:
    """Session confs this engine depends on, safe to set at runtime.

    Called from load_table so externally-created SparkSessions (e.g. the
    verification driver's) behave identically to ones built by context.init.
    """
    confs = [
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ]
    try:
        # Local-mode tuning only: the stock 200 shuffle partitions is pure
        # scheduler overhead on a laptop/driver smoke run. A real cluster
        # session keeps whatever it was configured with.
        if spark.sparkContext.master.startswith("local"):
            confs.append(("spark.sql.shuffle.partitions", "32"))
    except Exception:
        pass
    for k, v in confs:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table, restoring nanosecond-timestamp columns.

    The synthetic tables store TIMESTAMP(NANOS); Spark reads those as long
    (spark.sql.legacy.parquet.nanosAsLong) and we convert to microsecond
    timestamps with integer DIV (matches DuckDB's nanos->micros truncation).
    The conversion is a narrow projection — filters on every other column
    still push down to the parquet scan.
    """
    ensure_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet(spark, path)
    footer = pq.read_schema(path)
    for f in footer:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            df = df.withColumn(f.name, F.timestamp_micros(F.expr(f"`{f.name}` DIV 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register each table as a temp view so ``spark.sql`` works against it."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
