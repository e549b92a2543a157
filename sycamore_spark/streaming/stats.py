"""Streaming corpus-stats maintenance.

Continuous ingest keeps the corpus's summary statistics current WITHOUT
ever rescanning history: each micro-batch's additive state
(operators/incremental.py corpus_stats) is merged into a persisted state
table via ``foreachBatch``. Because the state is associative (decimal
sums, counts, min/max), the final state is INDEPENDENT of micro-batch
boundaries — ingesting the corpus in 1 batch or 50 yields bit-identical
statistics, which is exactly what the oracle gate checks against a
full-table recompute.

State layout and restart safety are ``store.versioned_state_fold``
(``sycamore_spark/store.py``): one Spark job per batch and no lineage
cut, because the write never replaces files its plan reads. Read the
live state with ``read_state``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sycamore_spark import store
from sycamore_spark.operators.incremental import corpus_stats, merge_stats
from sycamore_spark.store import versioned_state_fold


def current_state_dir(spark, state_dir: str) -> str:
    """The live state version directory: the highest committed one."""
    try:
        return store.current_dir(spark, state_dir)
    except LookupError:
        raise FileNotFoundError(f"no committed state under {state_dir}") from None


def read_state(spark, state_dir: str) -> DataFrame:
    """The live persisted state (one row per group)."""
    return store.read_parquet(spark, current_state_dir(spark, state_dir))


def maintain_stats_stream(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    n_state_partitions: int = 1,
):
    """Start a foreachBatch query folding each micro-batch's additive
    stats state into ``state_dir`` (see the module docstring). Returns
    the StreamingQuery (caller awaits). Read the final state with
    ``read_state(spark, state_dir)`` and derive mean/stddev via
    ``finalize_stats``."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def make_merged(old: DataFrame | None) -> DataFrame:
            contrib = corpus_stats(batch_df, group_cols, value_col)
            if old is None:
                return contrib
            return merge_stats(old, contrib, group_cols)

        versioned_state_fold(
            spark, state_dir, checkpoint_dir, batch_id, make_merged,
            n_state_partitions=n_state_partitions,
        )

    return store.start_fold(stream, _fold, checkpoint_dir, available_now)
