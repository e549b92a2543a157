"""Streaming inverted-index maintenance.

A document change feed (inserts / edits / deletes) folds into the
bucketed inverted index continuously: each micro-batch runs the SAME
``index_apply_changes`` operator the batch path uses (tokenize the
changed docs, rebuild only the touched term buckets with df/rank
recomputed inside them) — the lexical member of the streaming-
maintenance family (``streaming/ann.maintain_ann_store_stream`` for the
vector store, ``streaming/cdc.maintain_snapshot_stream`` for generic
snapshots), with the same correctness properties:

- **Batch-boundary independence for disjoint-id batches**: each doc id
  appears in one micro-batch (the CDC-extract contract; racing feeds
  collapse to a last-writer row first).
- **Replay safety**: the index's replay mark (``sycamore_spark/store.py``)
  skips re-delivered batches, and the fold is content-idempotent
  (re-applying a batch deletes the postings it already wrote and
  re-derives identical ones).

Scale: per-batch work is proportional to the touched buckets, never the
index — see ``index_apply_changes``'s contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sycamore_spark import store


def maintain_index_stream(
    changes: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "op",
    delete_op: str = "D",
    n_buckets: int = 64,
    norms_dir: str | None = None,
    norms_buckets: int = 64,
    available_now: bool = False,
):
    """Fold a streaming document change feed into the bucketed inverted
    index. ``changes`` is a streaming DataFrame of (id, text, op) rows;
    the index at ``index_dir`` must already exist (build it with
    ``bucketed_postings(...).write.partitionBy(bucket_col)``).
    ``n_buckets`` must match the build. Pass ``norms_dir`` to also fold
    each batch into the norms companion table (``norms_apply_changes``)
    so ``bm25_from_index`` serving stays consistent — both folds run
    inside the same guarded batch, and the fold pair is content-
    idempotent, so the crash window between them converges on replay.
    Returns the started StreamingQuery."""
    from sycamore_spark.functions.partitioning import lineage_cut, overlap_jobs
    from sycamore_spark.operators.retrieval import (
        index_apply_changes, norms_apply_changes,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Cut the micro-batch ONCE here and fold the two independent stores
        # CONCURRENTLY (guide §2.6): they touch disjoint directories and each
        # job's tasks back-fill the other's stage tails. The cut is lazy:
        # the first fold's probe materializes it, and each fold checks the
        # one-row-per-id contract on the ids its probe collects.
        batch_df = lineage_cut(batch_df, eager=False)
        folds = [
            lambda: index_apply_changes(
                spark, index_dir, batch_df, id_col=id_col, text_col=text_col,
                op_col=op_col, delete_op=delete_op, n_buckets=n_buckets,
                prepared=True,
            )
        ]
        if norms_dir is not None:
            folds.append(
                lambda: norms_apply_changes(
                    spark, norms_dir, batch_df, id_col=id_col, text_col=text_col,
                    op_col=op_col, delete_op=delete_op, n_buckets=norms_buckets,
                    prepared=True,
                )
            )
        overlap_jobs(*folds)

    return store.start_fold(changes, _fold, checkpoint_dir, available_now, mark_dir=index_dir)
