"""Streaming CDC snapshot maintenance.

A change feed (upserts + deletes with a total-ordering sequence) folds
into a continuously-maintained snapshot table WITHOUT rescanning history:
each micro-batch merges latest-wins into the persisted state via
``foreachBatch`` — the streaming half of ``operators/cdc.py``.

Correctness properties, both oracle-gated:

- **Batch-boundary independence**: latest-wins merge is associative over
  sequence order, so ingesting the feed in 1 batch or 50 yields the
  identical snapshot (the ``maintain_stats_stream`` discipline applied to
  MERGE instead of additive sums).
- **Tombstones**: the state retains winning deletes (``keep_deletes``),
  so a late-arriving lower-sequence update cannot resurrect a deleted
  key across batches; the returned live view filters them out.

Scale design (the 100 TB path): the snapshot is laid out as
``n_buckets`` key-hash partitions (``_bucket = pmod(xxhash64(keys),
n)``).  Each micro-batch computes the set of buckets its keys touch
(bounded collect: at most ``n_buckets`` rows), reads ONLY those buckets
back (partition pruning on the ``_bucket`` directory column), merges the
batch into them, and rewrites ONLY those buckets via dynamic partition
overwrite.  Work per batch is proportional to the touched slice of the
snapshot, not the whole table — the parquet-native analogue of a
transactional MERGE INTO (Delta/Iceberg), which is the drop-in upgrade
at cluster scale.

Restart safety is the replay mark of ``sycamore_spark/store.py``
(``start_fold`` with ``mark_dir``): a replayed batch skips before any
job, and latest-wins merge of an already-folded batch is
content-idempotent, so the crash window between the state write and the
mark re-merges to the identical snapshot. The prior state is read with
``store.read_store`` (a missing snapshot is empty, any other read error
raises) through the Hadoop FS, so ``hdfs://`` / ``s3a://`` / ``file://``
state dirs behave like local paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sycamore_spark import store
from sycamore_spark.functions.partitioning import lineage_cut
from sycamore_spark.operators.cdc import apply_changes

_BUCKET = "_bucket"


def _bucket_expr(key_cols: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")


def maintain_snapshot_stream(
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    state_dir: str,
    checkpoint_dir: str,
    op_col: str = "op",
    delete_op: str = "D",
    available_now: bool = True,
    n_buckets: int = 16,
):
    """Start a foreachBatch query folding each micro-batch of the change
    stream into the bucketed snapshot at ``state_dir``. Returns the
    StreamingQuery (caller awaits). Read the LIVE snapshot with
    ``read_snapshot`` (filters tombstones and bookkeeping).

    ``n_buckets`` fixes the snapshot's key-hash layout; every batch
    touches (reads + rewrites) only the buckets containing its keys.
    Size it so one bucket fits an executor comfortably at the target
    scale; it must stay constant for the lifetime of ``state_dir``."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.withColumn(_BUCKET, _bucket_expr(key_cols, n_buckets))
        # bounded collect: at most n_buckets rows
        touched = [r[0] for r in batch_df.select(_BUCKET).distinct().collect()]
        if not touched:
            return  # empty batch: nothing to merge
        old = store.read_store(spark, state_dir)
        old = batch_df.limit(0) if old is None else old.filter(F.col(_BUCKET).isin(touched))
        merged = apply_changes(
            old, batch_df, key_cols, seq_col,
            op_col=op_col, delete_op=delete_op, keep_deletes=True,
        )
        # cut lineage first: the dynamic overwrite below replaces the very
        # bucket files the merged plan reads
        (
            lineage_cut(merged, eager=True)
            .repartition(len(touched), _BUCKET)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_BUCKET)
            .parquet(state_dir)
        )

    return store.start_fold(changes, _fold, checkpoint_dir, available_now, mark_dir=state_dir)


def read_snapshot(spark, state_dir: str, op_col: str = "op", delete_op: str = "D") -> DataFrame:
    """The live snapshot: tombstones and bookkeeping columns removed."""
    df = store.read_parquet(spark, state_dir)
    return df.filter(F.col(op_col) != F.lit(delete_op)).drop(_BUCKET)
