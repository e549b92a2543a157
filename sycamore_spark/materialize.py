"""AutoMaterialize: automatic checkpointing around expensive (LLM) stages.

Reference parity: ``AutoMaterialize`` (reference:
lib/sycamore/sycamore/materialize.py:623-700) is a Ray plan-rewrite rule that
wraps every node in a Materialize; ``MaterializeReadReliability`` (:47)
re-sources retries from the stored copy. This engine composes DataFrames
eagerly, so the rule is a *stage decorator* instead of a graph traversal:
while enabled, every llm_map-family stage writes its output to
``<root>/<stage-hash>`` parquet and any rerun whose stage key matches an
existing complete checkpoint (parquet ``_SUCCESS`` marker — the reference's
completeness marker) reads the stored result instead of re-invoking the LLM.

The stage key hashes (kind, prompt, output column, input schema, optional
user name) — the same stage re-run after a driver crash resolves to the same
directory, which is exactly the kill-and-resume contract. Two different
pipelines with identical prompt+schema should pass distinct ``name``s, the
same caveat the reference documents for its auto-generated node names.

Scale note: a checkpoint is one distributed parquet write + read — no
driver funnel; at 100 TB this is the cheap insurance that keeps a 6-hour
LLM stage from rerunning because a downstream join OOMed.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
from typing import Optional

from pyspark.sql import DataFrame

_ACTIVE: Optional["AutoMaterialize"] = None


# -- Hadoop-FS helpers (work on file://, hdfs://, s3a://, ... — a driver-local
# os.path check silently breaks resume for any non-local out_root) ----------


def jvm_handle(spark, dotted: str):
    """``spark._jvm.<dotted>`` (a class, a static method or a static
    field), looked up once per JVM: every dotted step of a py4j
    ``jvm.a.b.C`` walk is a round trip into the JVM."""
    return _jvm_handle(spark._jvm, dotted)


@functools.lru_cache(maxsize=64)
def _jvm_handle(jvm, dotted: str):
    handle = jvm
    for name in dotted.split("."):
        handle = getattr(handle, name)
    return handle


def _hadoop_fs(spark, path_str: str):
    hpath = jvm_handle(spark, "org.apache.hadoop.fs.Path")(path_str)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_exists(spark, path_str: str) -> bool:
    fs, p = _hadoop_fs(spark, path_str)
    return bool(fs.exists(p))


def _fs_write_text(spark, path_str: str, text: str) -> None:
    """Replace the small file at ``path_str`` (a pointer, mark or marker)
    atomically: the text goes in full to a hidden temp sibling, which is
    then renamed over the target. A reader or a crash sees the old content
    or the new, never a truncated file; a crash leaves at most the temp
    file, which nothing reads ('.' names are hidden from Spark listings).

    On the local FS the write bypasses the checksum layer: rename(2)
    replaces the target atomically, but a ``.crc`` sidecar renamed after
    it would leave a window, or after a crash a lasting mismatch, in which
    the new bytes fail the old checksum; a stale sidecar is deleted before
    the swap. Other schemes rename with FileContext OVERWRITE, atomic on
    HDFS (whose FileSystem.rename refuses an existing target)."""
    import uuid

    fs, p = _hadoop_fs(spark, path_str)
    local = fs.getScheme() == "file"
    if local:
        fs = fs.getRawFileSystem()
    Path = jvm_handle(spark, "org.apache.hadoop.fs.Path")
    tmp = Path(p.getParent(), f".{p.getName()}.{uuid.uuid4().hex}.tmp")
    stream = fs.create(tmp, False)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    if local:
        fs.delete(Path(p.getParent(), f".{p.getName()}.crc"), False)
        if not fs.rename(tmp, p):
            raise OSError(f"could not rename {tmp} over {p}")
        return
    rename = spark._jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename, 1)
    opts[0] = rename.OVERWRITE
    ctx = spark._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        p.toUri(), spark._jsc.hadoopConfiguration()
    )
    ctx.rename(tmp, p, opts)


def delete_path(spark, path_str: str) -> bool:
    """Recursively delete a checkpoint directory via the Hadoop FS API
    (reference docset.clear_materialize, docset.py:1785 — there a
    pyarrow-fs walk; here any scheme the cluster reaches). Returns True
    if something was deleted."""
    fs, p = _hadoop_fs(spark, path_str)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, True))


def _fs_read_text(spark, path_str: str) -> str:
    fs, p = _hadoop_fs(spark, path_str)
    stream = fs.open(p)
    try:
        # py4j passes arrays by value, so stream.read(buf) can't fill a
        # Python bytearray — drain JVM-side instead (commons-io ships with
        # hadoop-common)
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


class AutoMaterialize:
    def __init__(self, root: str, source_mode: str = "USE_STORED"):
        self.root = root
        self.source_mode = source_mode

    # -- stage key ----------------------------------------------------------

    def stage_dir(self, kind: str, *key_parts: str) -> str:
        digest = hashlib.sha256("\x1f".join([kind, *key_parts]).encode()).hexdigest()[:16]
        return os.path.join(self.root, f"{kind}-{digest}")

    # -- checkpoint protocol -------------------------------------------------

    def try_read(self, df_like: DataFrame, path: str) -> Optional[DataFrame]:
        """Return the stored stage output iff complete and USE_STORED."""
        if self.source_mode != "USE_STORED":
            return None
        from sycamore_spark.store import read_parquet

        spark = df_like.sparkSession
        if _fs_exists(spark, os.path.join(path, "_SUCCESS")):
            return read_parquet(spark, path)
        return None

    def write(self, df: DataFrame, path: str) -> DataFrame:
        from sycamore_spark.store import read_parquet

        df.write.mode("overwrite").parquet(path)
        return read_parquet(df.sparkSession, path)


def enable(root: str, source_mode: str = "USE_STORED") -> AutoMaterialize:
    """Turn on auto-checkpointing for subsequently-built LLM stages."""
    global _ACTIVE
    _ACTIVE = AutoMaterialize(root, source_mode)
    return _ACTIVE


def disable() -> None:
    global _ACTIVE
    _ACTIVE = None


def active() -> Optional[AutoMaterialize]:
    return _ACTIVE


def reliable_materialize(
    df: DataFrame,
    out_root: str,
    transform=None,
    id_col: str = "doc_id",
    max_batch: int = 200,
    max_retries: int = 20,
) -> DataFrame:
    """Batched-retry materialization: ``MaterializeReadReliability``'s
    contract (reference materialize.py:47-170 — process in bounded batches,
    skip already-materialized outputs on retry, give up only after
    ``max_retries`` cycles without progress) re-expressed Spark-first.

    The reference batches by filtering input *paths* against seen output
    names on the driver. Here batch membership is a deterministic hash
    bucket of ``id_col`` (``pmod(xxhash64(id), n_batches)``) — no driver-side
    id collection, so the loop holds at 100 TB: each cycle is one filtered
    distributed write, and completed batches are recognized by their parquet
    ``_SUCCESS`` marker (a crashed half-written batch has none and is
    rewritten with mode=overwrite).

    ``transform``: optional DataFrame -> DataFrame stage run per batch (the
    expensive work being protected). Returns the re-read union of all batch
    outputs — byte-equal to ``transform(df)`` but resumable mid-way.

    Resume protocol: batch count and input fingerprint are persisted to
    ``<out_root>/_RELIABLE_META.json`` on the first run (via the Hadoop FS
    API, so resume works on hdfs://s3a:// paths, not just the driver's local
    disk). A resume reuses the STORED n_batches (bucketing must match the
    earlier run) and refuses to continue if the input row count changed —
    otherwise the final ``batch-*`` read would union stale batches from the
    earlier input.
    """
    import math

    from pyspark.sql import functions as F

    spark = df.sparkSession
    total = df.count()
    meta_path = os.path.join(out_root, "_RELIABLE_META.json")
    if _fs_exists(spark, meta_path):
        meta = json.loads(_fs_read_text(spark, meta_path))
        if meta.get("total") != total or meta.get("id_col") != id_col:
            raise ValueError(
                f"reliable_materialize: {out_root} holds batches from a different "
                f"input (stored total={meta.get('total')}, id_col={meta.get('id_col')!r}; "
                f"current total={total}, id_col={id_col!r}). Resuming would union "
                f"stale batch outputs — clean the directory or use a new out_root."
            )
        n_batches = int(meta["n_batches"])
    else:
        n_batches = max(1, math.ceil(total / max_batch))
        _fs_write_text(
            spark, meta_path,
            json.dumps({"n_batches": n_batches, "total": total, "id_col": id_col,
                        "bucket_fn": "pmod(xxhash64(cast(id as string)), n)"}),
        )
    bucket = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_batches))

    retries = 0
    b = 0
    while b < n_batches:
        path = os.path.join(out_root, f"batch-{b:05d}")
        if _fs_exists(spark, os.path.join(path, "_SUCCESS")):
            b += 1  # already materialized in a previous run — skip (resume)
            continue
        try:
            sub = df.filter(bucket == b)
            out = transform(sub) if transform is not None else sub
            out.write.mode("overwrite").parquet(path)
            b += 1
            retries = 0
        except KeyboardInterrupt:
            raise
        except Exception:
            retries += 1
            if retries > max_retries:
                raise
    from sycamore_spark.store import read_parquet

    return read_parquet(df.sparkSession, os.path.join(out_root, "batch-*"))


def checkpoint_stage(build, df: DataFrame, kind: str, *key_parts: str, name: str | None = None) -> DataFrame:
    """Wrap one stage: reuse the stored output when the stage key matches a
    complete checkpoint, else build + store. ``build`` is a zero-arg callable
    returning the stage's output DataFrame (only invoked on a miss)."""
    am = active()
    if am is None:
        return build()
    schema_sig = df.schema.simpleString()
    parts = [schema_sig, *key_parts] + ([name] if name else [])
    path = am.stage_dir(kind, *parts)
    stored = am.try_read(df, path)
    if stored is not None:
        return stored
    return am.write(build(), path)
