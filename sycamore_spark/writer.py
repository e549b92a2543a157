"""Sinks: write DocSets/DataFrames out.

Reference parity (SURVEY.md §2.1 writers): file/json writers
(reference: lib/sycamore/sycamore/connectors/file/file_writer.py:138,211),
DuckDB writer (connectors/duckdb/duckdb_writer.py:16-185 with its flattened
record shape), Iceberg writer (writer.py:821), plus search-engine sinks
(OpenSearch/ES/Weaviate/...) which need live services — those are gated
stubs exposing the same ``BaseDBWriter``-style seam.

Spark-first: parquet/json writes are native distributed writes. The DuckDB
sink stages parquet then issues one CREATE TABLE AS read_parquet — DuckDB
ingests directly from the distributed write, no driver row funnel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sycamore_spark.store import read_parquet


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSONL per partition (reference JsonWriter: file_writer.py:211)."""
    # binary columns are not JSON-serializable; base64 them like the
    # reference's document-to-json path.
    out = df
    for name, dtype in df.dtypes:
        if dtype == "binary":
            out = out.withColumn(name, F.base64(F.col(name)))
    out.write.mode(mode).json(path)


def write_files(df: DataFrame, path: str, text_col: str = "text_representation",
                name_col: str = "doc_id") -> None:
    """One file per document (reference FileWriter: file_writer.py:138).
    Distributed foreachPartition write — no driver funnel."""
    os.makedirs(path, exist_ok=True)

    def write_part(rows):
        for r in rows:
            with open(os.path.join(path, f"{r[name_col]}.txt"), "w") as f:
                f.write(r[text_col] or "")

    df.select(name_col, text_col).foreachPartition(write_part)


# Reference DuckDB record shape (duckdb_writer.py:153-180).
DUCKDB_DOC_COLUMNS = ["doc_id", "embedding", "properties", "text_representation", "bbox", "shingles", "type"]


def write_duckdb(df: DataFrame, db_path: str, table: str, stage_dir: str,
                 doc_shape: bool = False) -> None:
    """Write via a staged parquet directory + one DuckDB bulk ingest.

    ``doc_shape=True`` projects the reference's DuckDB record columns
    (duckdb_writer.py:153-180)."""
    import duckdb

    if doc_shape:
        cols = [c for c in DUCKDB_DOC_COLUMNS if c in df.columns]
        df = df.select(*cols)
    df.write.mode("overwrite").parquet(stage_dir)
    con = duckdb.connect(db_path)
    con.execute(f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM read_parquet('{stage_dir}/*.parquet')")
    con.close()


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    *bucket_cols: str,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table so
    later equi-joins/aggregations on the bucket key are EXCHANGE-FREE —
    the co-located-join strategy for repeatedly-joined 100 TB tables
    (SURVEY.md 'co-locate joins via bucketing'). Spark bucketing requires
    saveAsTable (catalog-managed)."""
    w = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def compact_table(
    spark,
    src_dir: str,
    dst_dir: str,
    target_mb: int = 128,
    sort_col: str | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    ~``target_mb`` each. The 100-TB hygiene job — streaming/ingest output
    and per-batch materialize dirs accumulate thousands of KB-sized files,
    and every downstream scan then pays a task per file plus NameNode/
    listing pressure. Sizing uses the Hadoop FS content summary (works on
    any scheme), so the partition count tracks ACTUAL bytes, not row
    counts. Optional ``sort_col`` makes it a clustering rewrite
    (repartitionByRange -> min/max pruning on the sorted column for
    downstream range scans). Returns the output partition count.
    """
    import math

    from sycamore_spark.materialize import _hadoop_fs

    fs, p = _hadoop_fs(spark, src_dir)
    total_bytes = fs.getContentSummary(p).getLength()
    n = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    df = read_parquet(spark, src_dir)
    from pyspark.sql import functions as F  # noqa: F401  (parity with module style)

    out = (
        df.repartitionByRange(n, sort_col)
        if sort_col
        else df.repartition(n)
    )
    out.write.mode("overwrite").parquet(dst_dir)
    return n


def compact_partitioned_table(
    spark,
    src_dir: str,
    dst_dir: str,
    partition_col: str,
    files_per_partition: int = 1,
    salt_col: str | None = None,
) -> None:
    """Partition-PRESERVING small-files compaction — the ANN-store
    maintenance job ``compact_table`` cannot do (a flat repartition+write
    would destroy the partitionBy directory layout and with it the
    partition pruning the store exists for). Streaming ingest appends one
    small file per micro-batch per partition value (e.g. per IVF cell,
    streaming/ann ingest); this rewrites the store so each partition
    directory holds ``files_per_partition`` files and the layout — and
    therefore ``PartitionFilters`` pruning on ``partition_col`` — is
    unchanged.

    Shape: ONE hash shuffle on the partition column (every row of a value
    lands in one task, so the writer emits exactly one file per value),
    then a partitionBy write. With ``files_per_partition > 1`` (partitions
    bigger than one task should handle) rows are additionally spread by
    ``pmod(hash(salt_col), files_per_partition)`` — deterministic, no
    rand(). At 100 TB this is per-partition work: partitions ≫ tasks just
    means each task writes several partitions' files.

    ``src_dir`` and ``dst_dir`` must differ: mode('overwrite') truncates
    the destination BEFORE the lazy read of the source executes, so an
    in-place call would destroy the store — rejected loudly."""
    import os

    if os.path.realpath(src_dir) == os.path.realpath(dst_dir):
        raise ValueError(
            f"compact_partitioned_table cannot compact in place "
            f"({src_dir!r}): overwrite truncates dst before the lazy src "
            f"read runs. Write to a sibling dir and swap, or use "
            f"the lineage cut of functions.partitioning.fold_touched_buckets."
        )
    df = read_parquet(spark, src_dir)
    if files_per_partition <= 1:
        out = df.repartition(F.col(partition_col))
    else:
        if salt_col is None:
            raise ValueError(
                "files_per_partition > 1 needs salt_col (a stable row key) "
                "to spread each partition's rows deterministically"
            )
        out = df.repartition(
            F.col(partition_col),
            F.pmod(F.hash(F.col(salt_col)), F.lit(files_per_partition)),
        )
    out.write.mode("overwrite").partitionBy(partition_col).parquet(dst_dir)


def write_iceberg(df: DataFrame, table: str, mode: str = "append") -> None:
    """Iceberg sink (reference: writer.py:821). Requires the iceberg-spark
    runtime jar + catalog config on the session; raises a clear error when
    absent (not bundled in this container)."""
    try:
        writer = df.writeTo(table)
        (writer.append() if mode == "append" else writer.createOrReplace())
    except Exception as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "Iceberg write requires spark.sql.catalog configuration and the "
            "iceberg-spark-runtime jar on the classpath"
        ) from e


class SearchSinkStub:
    """Seam for OpenSearch/Elasticsearch/Weaviate/Pinecone/Qdrant/Neo4j
    sinks (reference: writer.py:45-906). Real implementations run a
    foreachPartition bulk-index loop against the service client; no services
    exist in this container, so instantiation works (for pipeline assembly)
    but execution raises."""

    def __init__(self, kind: str, **params):
        self.kind = kind
        self.params = params

    def write(self, df: DataFrame) -> None:
        raise NotImplementedError(
            f"{self.kind} sink requires a live service; configure and use "
            "foreachPartition bulk indexing in deployment."
        )
