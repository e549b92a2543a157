"""Streaming instruction-pool maintenance — the Self-Instruct loop
(Wang et al. 2022 §3.4) as a continuous ingest: each micro-batch of newly
generated instructions is ROUGE-L-filtered against the CURRENT pool
(operators/dedup.py instruction_pool_filter, batch-vs-pool), survivors
are appended, and the grown pool filters the next batch. The reference
has no streaming runtime (SURVEY.md §2.11 scale headroom).

Unlike the additive counter folds (streaming/stats.py, quality.py), pool
growth is ORDER-DEPENDENT state: which instruction survives depends on
which arrived first — a batch-vs-pool trigger admits within-batch
near-dups together, so results depend on micro-batch boundaries BY
DESIGN (finer triggers = closer to the paper's one-at-a-time loop; the
boundary choice is the operator's knob, and the oracle gate replays the
exact same batch sequence). Replay safety keeps the sequential fold
idempotent: every appended row carries its (checkpoint, batch_id)
provenance, and a batch whose provenance already exists in the pool is a
committed-but-unacknowledged replay — skipped.

At cluster scale the parquet append becomes a transactional append
(Delta/Iceberg); per-batch work is the instruction_pool_filter shape
(LSH + prefix-hash candidate equi-joins + one Arrow LCS verify), linear
in batch and pool sizes, never pool x pool.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sycamore_spark import store


def maintain_instruction_pool_stream(
    stream: DataFrame,
    pool_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    available_now: bool = True,
    **filter_kw,
):
    """Start a foreachBatch query growing the instruction pool at
    ``pool_dir``: per micro-batch, keep the batch rows whose max ROUGE-L
    F1 against the current pool is < ``threshold`` and append them as
    (id_col, text_col, _ckpt, _bid). An empty/absent pool admits the
    whole batch (the seed-bootstrap batch). Returns the StreamingQuery
    (caller awaits); read the pool with ``spark.read.parquet(pool_dir)``.
    Extra ``filter_kw`` reach instruction_pool_filter (bands, shingle_k,
    prefix_block, seed)."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from sycamore_spark.operators.dedup import instruction_pool_filter

        batch = batch_df.select(id_col, text_col)
        pool = store.read_store(batch_df.sparkSession, pool_dir)
        if pool is not None:
            replayed = (
                pool.where(
                    (F.col("_ckpt") == checkpoint_dir)
                    & (F.col("_bid") == batch_id)
                ).limit(1).count()
            )
            if replayed:
                return  # committed-but-unacknowledged batch: already folded
            kept_ids = instruction_pool_filter(
                batch,
                pool.select(id_col, text_col),
                id_col=id_col,
                text_col=text_col,
                threshold=threshold,
                **filter_kw,
            ).select(id_col)
            kept = batch.join(kept_ids, id_col)
        else:
            kept = batch
        (
            kept.withColumn("_ckpt", F.lit(checkpoint_dir))
            .withColumn("_bid", F.lit(batch_id).cast("long"))
            .write.mode("append")
            .parquet(pool_dir)
        )

    return store.start_fold(stream, _fold, checkpoint_dir, available_now)
