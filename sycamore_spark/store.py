"""One durability protocol for every maintained store.

A stored result is read only once its success marker exists, as in the
reference's materialize (reference lib/sycamore/sycamore/materialize.py:277).
This module is the only code that lists, commits, resolves or vacuums
store versions, or reads or writes a replay mark.

- **Versioned directories** (the ANN store, the rebucketed postings, the
  stats and quality states): each version is a ``root/v=<n>`` directory.
  It commits when its ``_committed`` marker is written, atomically through
  ``materialize._fs_write_text``, and the current version is the highest
  committed one. A reader therefore resolves a complete version, and a
  reader holding an older one keeps it until ``vacuum``. ``publish``
  takes a number above every ``v=`` directory, committed or not, so a
  crashed publish (a pending version) never has its number reused. The
  marker holds the publisher's replay mark when it has one: a
  ``versioned_state_fold`` commits the new state and its mark in one
  write, and keeps the previous version for readers that resolved it.
- **Replay marks** for the stores folded in place (the CDC snapshot, the
  ANN store, the inverted index): ``checkpoint_dir`` and ``batch_id`` in
  the store's ``_hwm`` sidecar, written after the fold. A batch at or
  below the mark of the same checkpoint dir is a replay (batch ids
  restart at 0 with a new checkpoint dir). A crash between the fold and
  its mark replays the batch, which those folds absorb because they are
  content-idempotent.
- **One foreachBatch starter**, ``start_fold``.
- **One parquet reader**, ``read_parquet``, behind every parquet read in
  the library: it takes the schema from one footer on the driver, so a
  read (of a store, a version or a table) runs no schema-inference job.

At cluster scale the same protocol is a transactional table's commit
(Delta/Iceberg); here it is plain parquet directories.
"""

from __future__ import annotations

import re
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import AnalysisException, CapturedException
from pyspark.sql import DataFrame

from sycamore_spark.materialize import (
    _fs_exists, _fs_read_text, _fs_write_text, _hadoop_fs, delete_path, jvm_handle,
)

_COMMITTED = "_committed"
_MARK = "_hwm"


def versions(spark, root: str) -> dict:
    """The version numbers under ``root``, split into ``committed`` (the
    marker exists: readable) and ``pending`` (written but never committed:
    a crashed publish, invisible to readers and safe to vacuum). Entries
    other than ``v=<n>`` directories are ignored."""
    fs, p = _hadoop_fs(spark, root)
    committed, pending = [], []
    if fs.exists(p):
        for st in fs.listStatus(p):
            m = re.fullmatch(r"v=(\d+)", st.getPath().getName())
            if st.isDirectory() and m:
                n = int(m.group(1))
                done = _fs_exists(spark, f"{root.rstrip('/')}/v={n}/{_COMMITTED}")
                (committed if done else pending).append(n)
    return {"committed": sorted(committed), "pending": sorted(pending)}


def current_dir(spark, root: str) -> str:
    """The directory of the current version: the highest committed one."""
    vs = versions(spark, root)["committed"]
    if not vs:
        raise LookupError(f"no committed store version under {root!r}")
    return f"{root.rstrip('/')}/v={vs[-1]}"


def publish(
    spark, root: str, df: DataFrame, partition_col: str | None = None,
    mark: tuple[str, int] | None = None,
) -> int:
    """Write ``df`` (``partitionBy(partition_col)`` when given) as the next
    version and commit it with a marker holding ``mark``. Returns the new
    version number."""
    vs = versions(spark, root)
    nxt = max(vs["committed"] + vs["pending"], default=-1) + 1
    vdir = f"{root.rstrip('/')}/v={nxt}"
    writer = df.write if partition_col is None else df.write.partitionBy(partition_col)
    writer.parquet(vdir)
    _fs_write_text(spark, f"{vdir}/{_COMMITTED}", "1" if mark is None else f"{mark[0]}\n{mark[1]}")
    return nxt


def vacuum(spark, root: str, keep: int = 1) -> list[int]:
    """Delete every pending version and all but the newest ``keep``
    committed ones. A reader of a deleted version fails, so ``keep`` is
    the retention window readers may rely on, as in a lakehouse VACUUM.
    Returns the removed version numbers."""
    if keep < 1:
        raise ValueError("keep must be >= 1 (the current version must survive)")
    vs = versions(spark, root)
    drop = vs["committed"][:-keep] + vs["pending"]
    for n in drop:
        delete_path(spark, f"{root.rstrip('/')}/v={n}")
    return sorted(drop)


def read_mark(spark, store_dir: str, version: int | None = None) -> tuple[str, int] | None:
    """The replay mark ``(checkpoint_dir, batch_id)`` in the ``_hwm``
    sidecar of ``store_dir``, or with ``version`` in the marker of that
    committed version; None when there is none."""
    root = store_dir.rstrip("/")
    path = f"{root}/{_MARK}" if version is None else f"{root}/v={version}/{_COMMITTED}"
    if not _fs_exists(spark, path):
        return None
    ckpt, _, bid = _fs_read_text(spark, path).rpartition("\n")
    return ckpt, int(bid)


def write_mark(spark, store_dir: str, checkpoint_dir: str, batch_id: int) -> None:
    """Replace the ``_hwm`` sidecar of ``store_dir`` atomically."""
    _fs_write_text(spark, f"{store_dir.rstrip('/')}/{_MARK}", f"{checkpoint_dir}\n{batch_id}")


def _replayed(mark: tuple[str, int] | None, checkpoint_dir: str, batch_id: int) -> bool:
    """Whether batch ``batch_id`` of ``checkpoint_dir`` is already folded
    under ``mark``."""
    return mark is not None and mark[0] == checkpoint_dir and batch_id <= mark[1]


def versioned_state_fold(
    spark,
    state_dir: str,
    checkpoint_dir: str,
    batch_id: int,
    make_merged: Callable[[DataFrame | None], DataFrame],
    n_state_partitions: int = 1,
) -> None:
    """One micro-batch fold: skip a replay (the current version's mark,
    read driver-side), publish ``make_merged(old)`` (``old`` None on the
    first fold) as the next version with this batch's mark (one job),
    then vacuum to the current and the previous version, so a reader that
    resolved the previous one can finish. The stats and quality folds."""
    committed = versions(spark, state_dir)["committed"]
    old = None
    if committed:
        mark = read_mark(spark, state_dir, committed[-1])
        if _replayed(mark, checkpoint_dir, batch_id):
            return  # replayed batch: contribution already folded
        old = read_parquet(spark, f"{state_dir.rstrip('/')}/v={committed[-1]}")
    publish(
        spark, state_dir, make_merged(old).repartition(n_state_partitions),
        mark=(checkpoint_dir, batch_id),
    )
    vacuum(spark, state_dir, keep=2)


def start_fold(
    stream: DataFrame,
    fold: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
    mark_dir: str | None = None,
):
    """Start ``stream`` as a foreachBatch query that runs ``fold(batch_df,
    batch_id)`` per micro-batch, checkpointed at ``checkpoint_dir``, in
    update mode, with the availableNow trigger when asked. With
    ``mark_dir`` a replayed batch returns before any Spark job and the
    store's mark is written after the fold. Returns the StreamingQuery."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if mark_dir is not None and _replayed(read_mark(spark, mark_dir), checkpoint_dir, batch_id):
            return
        fold(batch_df, batch_id)
        if mark_dir is not None:
            write_mark(spark, mark_dir, checkpoint_dir, batch_id)

    writer = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_parquet(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, without its schema-inference job.

    Without schema merging, Spark takes a parquet schema from one footer,
    that of the first data file in path order, but reads it in a Spark
    job. This reads the same footer on the driver with Spark's own code
    (``ParquetFileReader.readFooter``, then
    ``ParquetFileFormat.readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` over the session's conf) and hands
    the schema to the read. Partition columns are still inferred from the
    paths, and ``path`` may be a glob.

    The plain read, with its job, runs instead:

    - when there is no data file (a missing path, a glob that matches
      nothing, a directory of hidden entries), so Spark raises exactly as
      it would;
    - when the footer cannot be read or holds a type Spark's converter
      rejects, so Spark fails, or skips the file, under its own options;
    - when the session merges schemas (``spark.sql.parquet.mergeSchema``);
    - for a streaming file sink's output, whose files Spark takes from
      the sink's log.

    Summary files (``_metadata``, ``_common_metadata``), which Spark no
    longer writes, are skipped like hidden ones."""
    schema = _footer_schema(spark, path) if isinstance(path, str) else None
    if schema is None:
        return spark.read.parquet(path)
    return DataFrame(spark._jsparkSession.read().schema(schema).format("parquet").load(path), spark)


def _footer_schema(spark, path: str):
    """The JVM StructType Spark would infer for ``path``, or None where
    ``read_parquet`` leaves the read to Spark."""
    state = spark._jsparkSession.sessionState()
    conf = state.conf()
    if conf.isParquetSchemaMergingEnabled():
        return None
    hconf = state.newHadoopConf()
    Path = jvm_handle(spark, "org.apache.hadoop.fs.Path")
    pattern = Path(path)
    fs = pattern.getFileSystem(hconf)
    if fs.exists(Path(pattern, "_spark_metadata")):
        return None  # a streaming file sink: Spark lists the files its log committed
    roots = fs.globStatus(pattern)  # None for a missing plain path
    first = next(_data_files(fs, roots or ()), None)
    if first is None:
        return None
    parquet = "org.apache.spark.sql.execution.datasources.parquet"
    try:
        footer = jvm_handle(spark, "org.apache.parquet.hadoop.ParquetFileReader.readFooter")(
            hconf, first,
            jvm_handle(spark, "org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER"),
        )
        return jvm_handle(spark, f"{parquet}.ParquetFileFormat.readSchemaFromFooter")(
            jvm_handle(spark, "org.apache.parquet.hadoop.Footer")(first, footer),
            jvm_handle(spark, f"{parquet}.ParquetToSparkSchemaConverter")(conf),
        )
    except (Py4JJavaError, CapturedException):
        return None  # unreadable, or a type Spark rejects: its own read raises


def _data_files(fs, statuses, top: bool = True):
    """The data files under ``statuses``, lazily and in the order Spark
    sorts leaf files (by path string: a directory's files sort as its path
    plus '/'). Hidden names are skipped as Spark's file listing skips them
    ('.' or '_' first, unless a '_' name holds '=', or a ``._COPYING_``
    end), except for a top-level directory, which was named by the
    caller."""
    entries = []
    for st in statuses:
        name, is_dir = st.getPath().toString(), bool(st.isDirectory())
        base = name.rsplit("/", 1)[-1]
        hidden = base[:1] == "." or base.endswith("._COPYING_") or (base[:1] == "_" and "=" not in base)
        if not hidden or (top and is_dir):
            entries.append((name + "/" if is_dir else name, st))
    for key, st in sorted(entries, key=lambda e: e[0]):
        if key.endswith("/"):
            yield from _data_files(fs, fs.listStatus(st.getPath()), top=False)
        else:
            yield st.getPath()


def read_store(spark, store_dir: str) -> DataFrame | None:
    """The store at ``store_dir``, read by ``read_parquet`` (no
    schema-inference job), or None when it holds no data: never written,
    or every data directory removed by a fold. ``read_parquet`` leaves
    both to Spark's own read, which reports the latter as
    UNABLE_TO_INFER_SCHEMA over a directory of hidden entries.
    Every other failure propagates: folding into a store that exists but
    cannot be read would rebuild from the delta alone and drop the rows
    the store held."""
    try:
        return read_parquet(spark, store_dir)
    except AnalysisException as e:
        cond = e.getCondition()
        if cond == "PATH_NOT_FOUND":
            return None
        if cond == "UNABLE_TO_INFER_SCHEMA":
            fs, p = _hadoop_fs(spark, store_dir)
            if all(s.getPath().getName()[0] in "_." for s in fs.listStatus(p)):
                return None
        raise
