"""Generic DB-writer protocol: the reference's ``BaseDBWriter`` contract
(reference: lib/sycamore/sycamore/connectors/base_writer.py — Client /
Record / ClientParams / TargetParams type params, create-idempotent +
compatibility check + write_many_records) re-expressed Spark-first.

Where the reference runs ``write_docs`` inside a Ray MapBatch, here the
write is a ``foreachPartition`` action: ONE client per partition (not per
row), records buffered into micro-batches, each batch retried with
exponential backoff. Target creation + compatibility validation happen once
on the driver BEFORE the distributed action, so a misconfigured index fails
in milliseconds instead of after a cluster-wide write.

Concrete service connectors (OpenSearch/Weaviate/Pinecone/ES/Neo4j/Qdrant,
reference writer.py:45-906) become thin Record mappers + Client adapters on
this protocol; ``JsonlDirClient`` is the bundled file-backed implementation
(no live services exist in this container) and doubles as the protocol's
test vehicle.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from abc import ABC, abstractmethod
from dataclasses import asdict, dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame


@dataclass
class ClientParams:
    """Connection-level config (host/auth/paths); must pickle to executors."""


@dataclass
class TargetParams:
    """Write-target config (index/collection/table shape).

    ``compatible_with`` mirrors the reference's pre-write validation: the
    params the target was created with must match the params the script
    asked for (reference base_writer.py:57-59)."""

    def compatible_with(self, other: "TargetParams") -> bool:
        return self == other


class DBClient(ABC):
    """Adapter over a concrete store. One instance per partition."""

    @classmethod
    @abstractmethod
    def from_client_params(cls, params: ClientParams) -> "DBClient":
        ...

    @abstractmethod
    def create_target_idempotent(self, target: TargetParams) -> None:
        ...

    @abstractmethod
    def get_existing_target_params(self, target: TargetParams) -> TargetParams:
        ...

    @abstractmethod
    def write_many_records(self, records: list[dict], target: TargetParams) -> None:
        ...

    def close(self) -> None:
        pass


RecordFn = Callable[[dict], dict | None]
"""row-dict -> record-dict (or None to filter the row out) — the Record
.from_doc seam (reference base_writer.py:48-52)."""


def write_db(
    df: DataFrame,
    client_cls: type[DBClient],
    client_params: ClientParams,
    target_params: TargetParams,
    record_fn: RecordFn,
    batch_size: int = 500,
    max_retries: int = 3,
    retry_base_sleep: float = 0.2,
) -> None:
    """Distributed protocol write.

    Driver: create target idempotently, verify compatibility (fail fast).
    Executors: one client per partition; rows -> records via ``record_fn``
    (None filters); flush every ``batch_size``; each batch retried
    ``max_retries`` times with exponential backoff before failing the task
    (Spark then retries the task — writes must therefore be idempotent or
    append-only, which is also the reference's implicit contract)."""
    driver_client = client_cls.from_client_params(client_params)
    try:
        driver_client.create_target_idempotent(target_params)
        existing = driver_client.get_existing_target_params(target_params)
        if not target_params.compatible_with(existing):
            raise ValueError(
                "Found mismatching target parameters in script and destination\n"
                f"Script: {target_params}\nDestination: {existing}"
            )
    finally:
        driver_client.close()

    def write_partition(rows) -> None:
        client = client_cls.from_client_params(client_params)
        try:
            buf: list[dict] = []

            def flush() -> None:
                if not buf:
                    return
                err = None
                for attempt in range(max_retries):
                    try:
                        client.write_many_records(list(buf), target_params)
                        buf.clear()
                        return
                    except Exception as e:  # transient store errors
                        err = e
                        time.sleep(retry_base_sleep * (2**attempt))
                raise err

            for row in rows:
                rec = record_fn(row.asDict(recursive=True))
                if rec is None:
                    continue
                buf.append(rec)
                if len(buf) >= batch_size:
                    flush()
            flush()
        finally:
            client.close()

    df.foreachPartition(write_partition)


# ---------------------------------------------------------------------------
# File-backed implementation (and protocol test vehicle)
# ---------------------------------------------------------------------------


@dataclass
class JsonlDirClientParams(ClientParams):
    root: str


@dataclass
class JsonlDirTargetParams(TargetParams):
    name: str
    schema_hint: str = ""


class JsonlDirClient(DBClient):
    """Append-only JSONL-directory store: each ``write_many_records`` call
    lands one uniquely-named part file, so concurrent partition writers and
    Spark task retries never collide. Target params persist in
    ``_target.json`` for the compatibility check."""

    def __init__(self, root: str):
        self.root = root

    @classmethod
    def from_client_params(cls, params: ClientParams) -> "JsonlDirClient":
        assert isinstance(params, JsonlDirClientParams)
        return cls(params.root)

    def _dir(self, target: JsonlDirTargetParams) -> str:
        return os.path.join(self.root, target.name)

    def create_target_idempotent(self, target: TargetParams) -> None:
        assert isinstance(target, JsonlDirTargetParams)
        d = self._dir(target)
        os.makedirs(d, exist_ok=True)
        meta = os.path.join(d, "_target.json")
        if not os.path.exists(meta):
            with open(meta, "w") as f:
                json.dump(asdict(target), f)

    def get_existing_target_params(self, target: TargetParams) -> TargetParams:
        assert isinstance(target, JsonlDirTargetParams)
        with open(os.path.join(self._dir(target), "_target.json")) as f:
            return JsonlDirTargetParams(**json.load(f))

    def write_many_records(self, records: list[dict], target: TargetParams) -> None:
        assert isinstance(target, JsonlDirTargetParams)
        part = os.path.join(self._dir(target), f"part-{uuid.uuid4().hex}.jsonl")
        tmp = part + ".tmp"
        with open(tmp, "w") as f:
            for r in records:
                f.write(json.dumps(r, sort_keys=True, default=str) + "\n")
        os.rename(tmp, part)  # atomic publish: readers never see half a batch


def read_jsonl_dir(root: str, name: str) -> list[dict[str, Any]]:
    """Read every record written to a JsonlDir target (test/verification)."""
    out: list[dict[str, Any]] = []
    d = os.path.join(root, name)
    for fn in sorted(os.listdir(d)):
        if fn.startswith("part-") and fn.endswith(".jsonl"):
            with open(os.path.join(d, fn)) as f:
                out.extend(json.loads(line) for line in f)
    return out


# ---------------------------------------------------------------------------
# Record mappers for the reference's service sinks. Each is a plain
# row-dict -> record-dict function usable as ``write_db(..., record_fn=...)``
# — the concrete Client adapter is the only service-specific piece left
# (none can run in this container; JsonlDirClient stands in as transport).
# ---------------------------------------------------------------------------

# reference connectors/common.py:20-30
DEFAULT_RECORD_PROPERTIES: dict[str, Any] = {
    "doc_id": None,
    "type": None,
    "text_representation": None,
    "elements": [],
    "embedding": None,
    "parent_id": None,
    "properties": {},
    "bbox": None,
    "shingles": None,
}


def opensearch_record(index_name: str) -> RecordFn:
    """reference opensearch_writer.py:290-312: {_index, _id, _source} with
    the default record properties filled from the row."""

    def fn(row: dict) -> dict | None:
        if row.get("doc_id") is None:
            return None
        source = {k: row.get(k, v) if row.get(k) is not None else v
                  for k, v in DEFAULT_RECORD_PROPERTIES.items()}
        return {"_index": index_name, "_id": row["doc_id"], "_source": source}

    return fn


elasticsearch_record = opensearch_record  # same bulk-record shape (es_writer)


def weaviate_record(flatten: bool = True) -> RecordFn:
    """reference weaviate_writer.py from_doc: uuid + properties (+vector);
    dotted property keys flattened with '__', '-' replaced by '_'."""

    def fn(row: dict) -> dict | None:
        if row.get("doc_id") is None:
            return None
        props = {
            "properties": row.get("properties"),
            "type": row.get("type"),
            "text_representation": row.get("text_representation"),
            "parent_id": row.get("parent_id"),
            "bbox": row.get("bbox"),
            "shingles": row.get("shingles"),
        }
        props = {k: v for k, v in props.items() if v not in (None, [], {})}
        if flatten and isinstance(props.get("properties"), dict):
            flat = {
                f"properties__{k.replace('-', '_')}": v
                for k, v in props.pop("properties").items()
            }
            props.update(flat)
        rec = {"uuid": row["doc_id"], "properties": props}
        if row.get("embedding") is not None:
            rec["vector"] = {"embedding": row["embedding"]}
        return rec

    return fn


def pinecone_record() -> RecordFn:
    """reference pinecone_writer.py from_doc: parent_id#doc_id composite id,
    embedding as values, metadata with stringified shingles."""

    def fn(row: dict) -> dict | None:
        if row.get("doc_id") is None:
            return None
        rid = (
            f"{row['parent_id']}#{row['doc_id']}" if row.get("parent_id") else row["doc_id"]
        )
        return {
            "id": rid,
            "values": row.get("embedding"),
            "metadata": {
                "type": row.get("type"),
                "text_representation": row.get("text_representation"),
                "bbox": row.get("bbox"),
                "shingles": [str(s) for s in row["shingles"]] if row.get("shingles") else None,
                "properties": row.get("properties"),
            },
        }

    return fn


def qdrant_record() -> RecordFn:
    """reference qdrant_writer.py: point = {id, vector, payload}."""

    def fn(row: dict) -> dict | None:
        if row.get("doc_id") is None:
            return None
        return {
            "id": row["doc_id"],
            "vector": row.get("embedding"),
            "payload": {
                "type": row.get("type"),
                "text_representation": row.get("text_representation"),
                "properties": row.get("properties"),
                "parent_id": row.get("parent_id"),
            },
        }

    return fn


# ---------------------------------------------------------------------------
# Read-side protocol: the reference's ``BaseDBReader`` contract
# (reference: lib/sycamore/sycamore/connectors/base_reader.py — Client /
# QueryResponse / QueryParams / ClientParams type params, target-presence
# check, read_records -> to_docs) re-expressed Spark-first.
#
# The reference reads the whole result on the DRIVER and fans out with
# ray.data.from_items (base_reader.py:79-84) — a funnel that caps reads at
# driver memory. Here the query is split into shards (QueryParams.shards)
# and each shard is read INSIDE a partition: one client per shard, records
# serialized to JSON strings, parsed JVM-side with an explicit schema
# (from_json — no driver-side schema inference, no driver funnel).
# ---------------------------------------------------------------------------


@dataclass
class QueryParams:
    """Read-target + query config (index/collection name, query DSL,
    filters). ``shards(n)`` splits the read into n independent sub-queries;
    the default is a single shard (services that can't split)."""

    def shards(self, n: int) -> list["QueryParams"]:
        return [self]


class DBReaderClient(ABC):
    """Adapter over a concrete store's read path. One instance per shard."""

    @classmethod
    @abstractmethod
    def from_client_params(cls, params: ClientParams) -> "DBReaderClient":
        ...

    @abstractmethod
    def check_target_presence(self, query: QueryParams) -> bool:
        ...

    @abstractmethod
    def read_records(self, query: QueryParams) -> list[dict]:
        ...

    def close(self) -> None:
        pass


def read_db(
    spark,
    client_cls: type[DBReaderClient],
    client_params: ClientParams,
    query_params: QueryParams,
    record_fn: RecordFn | None = None,
    num_shards: int = 1,
    schema: str | Any | None = None,
) -> DataFrame:
    """Distributed protocol read.

    Driver: target-presence check (fail fast, reference base_reader.py:67).
    Executors: one client per shard; records -> (optional ``record_fn``
    projection, None filters) -> JSON strings. With ``schema`` the records
    parse to typed columns via ``from_json`` (JVM-side); without, the raw
    ``record_json`` string column is returned for the caller to parse."""
    from pyspark.sql import functions as F

    driver_client = client_cls.from_client_params(client_params)
    try:
        if not driver_client.check_target_presence(query_params):
            raise ValueError(f"Target is not present\nParameters: {query_params}\n")
    finally:
        driver_client.close()

    shards = query_params.shards(num_shards)
    shard_df = spark.range(len(shards)).toDF("shard_id").repartition(len(shards), "shard_id")
    # mapInPandas keeps the exchange Arrow-batched and avoids a legacy RDD hop
    import pandas as pd  # noqa: PLC0415

    def read_shard_pd(batches):
        for pdf in batches:
            out: list[str] = []
            for sid in pdf["shard_id"]:
                qp = shards[int(sid)]
                client = client_cls.from_client_params(client_params)
                try:
                    for rec in client.read_records(qp):
                        if record_fn is not None:
                            rec = record_fn(rec)
                            if rec is None:
                                continue
                        out.append(json.dumps(rec, sort_keys=True, default=str))
                finally:
                    client.close()
            yield pd.DataFrame({"record_json": out})

    raw = shard_df.mapInPandas(read_shard_pd, "record_json string")
    if schema is None:
        return raw
    return raw.select(F.from_json("record_json", schema).alias("r")).select("r.*")


@dataclass
class JsonlDirQueryParams(QueryParams):
    """Query over a JsonlDir target: OpenSearch-DSL-subset ``query``
    (match_all / term / range — the shapes the reference's readers forward,
    e.g. opensearch reader query params) evaluated record-side, optional
    ``fields`` projection. Shards split the part-file list by filename hash."""

    name: str = ""
    query: dict | None = None
    fields: list[str] | None = None
    shard_idx: int = 0
    n_shards: int = 1

    def shards(self, n: int) -> list["JsonlDirQueryParams"]:
        return [
            JsonlDirQueryParams(self.name, self.query, self.fields, i, n)
            for i in range(max(1, n))
        ]


def _match_query(rec: dict, query: dict | None) -> bool:
    """Evaluate the OpenSearch-DSL subset the protocol fakes support."""
    if not query or "match_all" in query:
        return True
    if "term" in query:
        ((field, value),) = query["term"].items()
        return _dotted_get(rec, field) == value
    if "range" in query:
        ((field, bounds),) = query["range"].items()
        v = _dotted_get(rec, field)
        if v is None:
            return False
        return all(
            (op != "gte" or v >= b) and (op != "gt" or v > b)
            and (op != "lte" or v <= b) and (op != "lt" or v < b)
            for op, b in bounds.items()
        )
    raise ValueError(f"unsupported query shape: {list(query)}")


def _dotted_get(rec: dict, path: str):
    cur: Any = rec
    for part in path.split("."):
        if not isinstance(cur, dict):
            return None
        cur = cur.get(part)
    return cur


class JsonlDirReaderClient(DBReaderClient):
    """Read-back client for JsonlDir targets: the bundled file-backed
    transport (and the protocol's test vehicle — write with JsonlDirClient,
    read back here, hash against the source)."""

    def __init__(self, root: str):
        self.root = root

    @classmethod
    def from_client_params(cls, params: ClientParams) -> "JsonlDirReaderClient":
        assert isinstance(params, JsonlDirClientParams)
        return cls(params.root)

    def check_target_presence(self, query: QueryParams) -> bool:
        assert isinstance(query, JsonlDirQueryParams)
        return os.path.isdir(os.path.join(self.root, query.name))

    def read_records(self, query: QueryParams) -> list[dict]:
        assert isinstance(query, JsonlDirQueryParams)
        import zlib

        d = os.path.join(self.root, query.name)
        out: list[dict] = []
        for fn in sorted(os.listdir(d)):
            if not (fn.startswith("part-") and fn.endswith(".jsonl")):
                continue
            if query.n_shards > 1 and zlib.crc32(fn.encode()) % query.n_shards != query.shard_idx:
                continue
            with open(os.path.join(d, fn)) as f:
                for line in f:
                    rec = json.loads(line)
                    if not _match_query(rec, query.query):
                        continue
                    if query.fields:
                        rec = {k: _dotted_get(rec, k) for k in query.fields}
                    out.append(rec)
        return out


def opensearch_read_record() -> RecordFn:
    """Unwrap the OpenSearch bulk-record envelope written by
    ``opensearch_record`` back to the flat doc shape (reference
    opensearch reader QueryResponse.to_docs inverse)."""

    def fn(rec: dict) -> dict | None:
        src = rec.get("_source")
        if src is None:
            return None
        return {"doc_id": rec.get("_id"), **src}

    return fn


elasticsearch_read_record = opensearch_read_record  # same envelope


def weaviate_read_record() -> RecordFn:
    """Unwrap ``weaviate_record``'s {uuid, properties, vector} objects."""

    def fn(rec: dict) -> dict | None:
        props = dict(rec.get("properties") or {})
        flat = {
            k[len("properties__"):]: props.pop(k)
            for k in list(props)
            if k.startswith("properties__")
        }
        out = {"doc_id": rec.get("uuid"), **props}
        if flat:
            out["properties"] = flat
        vec = rec.get("vector")
        if vec:
            out["embedding"] = vec.get("embedding") if isinstance(vec, dict) else vec
        return out

    return fn


def pinecone_read_record() -> RecordFn:
    """Unwrap ``pinecone_record``'s {id, values, metadata} vectors (the
    parent_id#doc_id composite id splits back apart)."""

    def fn(rec: dict) -> dict | None:
        rid = rec.get("id") or ""
        parent_id, _, doc_id = rid.rpartition("#")
        meta = rec.get("metadata") or {}
        return {
            "doc_id": doc_id or rid,
            "parent_id": parent_id or None,
            "embedding": rec.get("values"),
            **{k: v for k, v in meta.items() if v is not None},
        }

    return fn


def qdrant_read_record() -> RecordFn:
    """Unwrap ``qdrant_record``'s {id, vector, payload} points."""

    def fn(rec: dict) -> dict | None:
        payload = rec.get("payload") or {}
        return {"doc_id": rec.get("id"), "embedding": rec.get("vector"), **payload}

    return fn


def reconstruct_documents(
    hits: DataFrame,
    id_col: str = "doc_id",
    parent_col: str = "parent_id",
    score_col: str = "score",
) -> DataFrame:
    """Parent-document reconstruction from element-level search hits —
    ``RAGDocumentReconstructor`` (reference connectors/
    doc_reconstruct.py:39): vector/keyword search returns ELEMENT hits
    (chunk rows carrying ``parent_id`` + relevance ``_score``); RAG wants
    the parent documents back, with elements grouped under them and a
    parent synthesized when only its elements were retrieved.

    The reference folds hits through a driver-side dict; here it is one
    hash aggregate on ``coalesce(parent_id, doc_id)`` — distributed, and
    the output is deterministic regardless of hit order (the reference's
    element order is response order; Spark's collect would not be, so
    this returns ORDER-FREE aggregates: element count, parent-row
    presence, best/mean relevance — the fields downstream RAG ranking
    actually uses; join the element rows back on ``parent_key`` when the
    full bodies are needed).

    Returns (parent_key, n_elements, has_parent_row, synthesized,
    best_score, n_hits)."""
    from pyspark.sql import functions as F

    key = F.coalesce(F.col(parent_col), F.col(id_col))
    is_parent_row = F.col(parent_col).isNull()
    out = hits.groupBy(key.alias("parent_key")).agg(
        F.sum(F.when(~is_parent_row, 1).otherwise(0)).cast("bigint").alias("n_elements"),
        F.max(is_parent_row.cast("bigint")).cast("bigint").alias("has_parent_row"),
        F.max(F.col(score_col)).alias("best_score"),
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
    )
    return out.withColumn(
        "synthesized", (F.col("has_parent_row") == 0).cast("bigint")
    ).select("parent_key", "n_elements", "has_parent_row", "synthesized", "best_score", "n_hits")
