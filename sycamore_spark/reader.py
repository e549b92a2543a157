"""DocSetReader / DocSetWriter: the fluent entry and exit points.

Reference parity: ``ctx.read.binary|json|document|materialize`` builds the
scan leaf (reference: lib/sycamore/sycamore/reader.py:34-214) and
``docset.write.parquet|json|files|duckdb|iceberg`` wraps the plan in a sink
(writer.py:45-906; DocSetWriter docset.py:1699). Here both are thin
facades: reads land in the canonical doc schema via sources/files.py,
writes delegate to writer.py's distributed sinks.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from sycamore_spark.docset import DocSet
from sycamore_spark.store import read_parquet


class DocSetReader:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def binary(self, paths, binary_format: str | None = None, **kwargs) -> DocSet:
        """Files → one doc per file with binary_representation
        (reference BinaryScan, connectors/file/file_scan.py:156)."""
        from sycamore_spark.sources.files import binary_scan

        return DocSet(binary_scan(self.spark, paths, binary_format=binary_format, **kwargs))

    def text(self, paths, **kwargs) -> DocSet:
        from sycamore_spark.sources.files import text_scan

        return DocSet(text_scan(self.spark, paths, **kwargs))

    def json(self, paths, **kwargs) -> DocSet:
        """JSON/JSONL → docs with properties (reference JsonScan,
        file_scan.py:291)."""
        from sycamore_spark.sources.files import json_scan

        return DocSet(json_scan(self.spark, paths, **kwargs))

    def document(self, paths) -> DocSet:
        """JSON already in Document shape (reference JsonDocumentScan,
        file_scan.py:398)."""
        from sycamore_spark.sources.files import json_document_scan

        return DocSet(json_document_scan(self.spark, paths))

    def parquet(self, path) -> DocSet:
        return DocSet(read_parquet(self.spark, path))

    def csv(self, path, schema=None, **kwargs) -> DocSet:
        """CSV/TSV with an explicit schema (the 100 TB contract: schema
        inference re-scans the input; never rely on it past a prototype).
        header=True by default; pass sep="\t" for TSV."""
        kwargs.setdefault("header", True)
        r = self.spark.read.options(**{k: str(v) for k, v in kwargs.items()})
        return DocSet(r.csv(path, schema=schema) if schema else r.option("inferSchema", "true").csv(path))

    def orc(self, path) -> DocSet:
        """ORC — columnar with predicate pushdown, no extra jars in Spark."""
        return DocSet(self.spark.read.orc(path))

    def materialize(self, path) -> DocSet:
        """Re-read a materialized checkpoint (reference reader.materialize,
        materialize.py:517)."""
        return self.parquet(path)

    def table(self, sf_dir: str, name: str) -> DocSet:
        from sycamore_spark.sources.tables import load_table

        return DocSet(load_table(self.spark, sf_dir, name))

    def webdataset(self, path_glob: str) -> DocSet:
        """Tar shards in the WebDataset layout -> (shard_path, key, ext,
        content) rows (data/webdataset.py)."""
        from sycamore_spark.data.webdataset import read_webdataset

        return DocSet(read_webdataset(self.spark, path_glob))

    def docs(self, rows) -> DocSet:
        """In-memory Document dicts (reference reader.document scan,
        reader.py:194)."""
        from sycamore_spark.data.schema import docs_from_rows

        return DocSet(docs_from_rows(self.spark, rows))

    def pandas(self, pdf) -> DocSet:
        """In-memory pandas frame scan (reference reader.pandas)."""
        return DocSet(self.spark.createDataFrame(pdf))

    def arrow(self, tbl) -> DocSet:
        """In-memory Arrow table scan (reference reader.arrow)."""
        return DocSet(self.spark.createDataFrame(tbl.to_pandas()))

    def json_document(self, paths) -> DocSet:
        """JSON already in Document shape (reference reader.json_document)
        — same scan as ``document``."""
        return self.document(paths)

    def manifest(self, paths, manifest_path: str, binary_format: str | None = None) -> DocSet:
        """Binary scan with a JSON metadata manifest merged into
        properties (reference JsonManifestMetadataProvider,
        file_scan.py:39) — sugar over ``binary(..., manifest_path=...)``."""
        return self.binary(paths, binary_format=binary_format, manifest_path=manifest_path)

    def duckdb(self, db_path: str, table_or_sql: str) -> DocSet:
        """DuckDB reader (reference: reader.py:377): driver-side Arrow
        handoff — right-sized for dimension/config tables; export big
        tables to parquet and use .parquet() for distributed scans."""
        import duckdb

        con = duckdb.connect(db_path, read_only=True)
        try:
            rel = (
                con.sql(table_or_sql)
                if table_or_sql.lstrip().lower().startswith(("select", "with"))
                else con.table(table_or_sql)
            )
            pdf = rel.df()
        finally:
            con.close()
        return DocSet(self.spark.createDataFrame(pdf))

    def db(self, client_cls, client_params, query_params, *, record_fn=None,
           num_shards: int = 1, schema=None) -> DocSet:
        """Protocol read through any BaseDBReader client (connectors.py
        read_db; reference base_reader.py): distributed sharded read with a
        fail-fast target-presence check. The bundled JsonlDirReaderClient +
        per-service unwrappers (opensearch_read_record etc.) cover local /
        test transports; live service clients plug into the same seam."""
        from sycamore_spark.connectors import read_db

        return DocSet(read_db(
            self.spark, client_cls, client_params, query_params,
            record_fn=record_fn, num_shards=num_shards, schema=schema,
        ))

    def wire(self, df_or_path, wire_col: str = "wire") -> DocSet:
        """Deserialize ArynSDoc msgpack blobs (data/wire.py; reference
        Document.web_deserialize) from a DataFrame or a parquet path into
        doc_json rows (parse with from_json + an explicit schema)."""
        from sycamore_spark.data import wire as W

        df = (
            read_parquet(self.spark, df_or_path)
            if isinstance(df_or_path, str)
            else df_or_path
        )
        return DocSet(W.wire_to_docs(df, wire_col=wire_col))

    def search(self, kind: str, **params) -> DocSet:
        """Seam for live OpenSearch/Elasticsearch/Weaviate/Pinecone/Qdrant
        readers (reference: reader.py:226-703). No services exist in this
        container — raises at call time with the connector named. The
        protocol machinery itself is live via ``.db(...)`` (read_db) with a
        file-backed transport."""
        raise NotImplementedError(
            f"{kind} reader requires a live service/connector (reference "
            "parity seam; use .db()/.parquet()/.duckdb() for local data)"
        )


class DocSetWriter:
    """Accessed as ``docset.write_`` sink methods or ``writer(ds)``."""

    def __init__(self, ds: DocSet):
        self.ds = ds

    def parquet(self, path: str, **kwargs) -> None:
        from sycamore_spark.writer import write_parquet

        write_parquet(self.ds.df, path, **kwargs)

    def db(self, client_cls, client_params, target_params, record_fn, **kwargs) -> None:
        """Protocol write through any BaseDBWriter client (connectors.py
        write_db; reference base.py BaseDBWriter) — the same seam the
        opensearch/weaviate/pinecone/qdrant/neo4j record mappers feed."""
        from sycamore_spark.connectors import write_db

        write_db(self.ds.df, client_cls, client_params, target_params, record_fn, **kwargs)

    def json(self, path: str, **kwargs) -> None:
        from sycamore_spark.writer import write_json

        write_json(self.ds.df, path, **kwargs)

    def files(self, path: str, **kwargs) -> None:
        from sycamore_spark.writer import write_files

        write_files(self.ds.df, path, **kwargs)

    def csv(self, path: str, **kwargs) -> None:
        kwargs.setdefault("header", True)
        self.ds.df.write.mode(kwargs.pop("mode", "overwrite")).options(
            **{k: str(v) for k, v in kwargs.items()}
        ).csv(path)

    def orc(self, path: str, mode: str = "overwrite") -> None:
        self.ds.df.write.mode(mode).orc(path)

    def duckdb(self, db_path: str, table: str, stage_dir: str, **kwargs) -> None:
        from sycamore_spark.writer import write_duckdb

        write_duckdb(self.ds.df, db_path, table, stage_dir, **kwargs)

    def iceberg(self, table: str, **kwargs) -> None:
        from sycamore_spark.writer import write_iceberg

        write_iceberg(self.ds.df, table, **kwargs)

    def webdataset(self, out_dir: str, columns: dict[str, str],
                   shard_col: str = "shard_id", key_col: str = "doc_id"):
        """Tar shards in the WebDataset layout (data/webdataset.py);
        returns the manifest DataFrame."""
        from sycamore_spark.data.webdataset import write_webdataset

        return write_webdataset(self.ds.df, out_dir, columns, shard_col, key_col)


def read(spark: SparkSession) -> DocSetReader:
    return DocSetReader(spark)
