"""Streaming ANN store maintenance.

A vector change feed (inserts / re-embeds / deletes) folds into the
cell-partitioned IVF-PQ store continuously: each micro-batch runs the
SAME ``ann_store_apply_changes`` operator the batch path uses (encode
the upserts, rebuild only the touched cells via dynamic partition
overwrite, remove emptied cell dirs) — the streaming half of the ANN
maintenance story, exactly as ``streaming/cdc.maintain_snapshot_stream``
is the streaming half of ``operators/cdc.apply_changes``.

Correctness properties (the ``stream_ann_upsert`` gate proves the first
against the batch gate's oracle):

- **Batch-boundary independence for disjoint-id batches**: applying a
  delta in 1 micro-batch or N yields the identical store when each id
  appears in one batch (the CDC-extract contract; feeds with intra-delta
  races need the sequence-ordered ``maintain_snapshot_stream`` instead).
- **Replay safety**: the store's replay mark (``sycamore_spark/store.py``)
  skips re-delivered batches, and the fold itself is content-idempotent
  (re-applying a batch deletes the rows it already wrote and re-inserts
  identical ones), so even the crash window before the mark converges.

Scale: per-batch work is proportional to the touched cells, never the
store — see ``ann_store_apply_changes``'s contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sycamore_spark import store


def maintain_ann_store_stream(
    changes: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    centroids: list,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
    delete_op: str = "D",
    available_now: bool = False,
):
    """Fold a streaming vector change feed into the cell-partitioned ANN
    store. ``changes`` is a streaming DataFrame of (id, vector, op) rows;
    the store at ``store_dir`` must already exist (build it with
    ``ivf_pq_encode(...).write.partitionBy(cell_col)`` or the
    ``stream_ann_ingest`` path). Returns the started StreamingQuery."""
    from sycamore_spark.operators.similarity import ann_store_apply_changes

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        ann_store_apply_changes(
            batch_df.sparkSession, store_dir, batch_df, centroids, codebooks,
            id_col=id_col, vec_col=vec_col, op_col=op_col, delete_op=delete_op,
        )

    return store.start_fold(changes, _fold, checkpoint_dir, available_now, mark_dir=store_dir)
