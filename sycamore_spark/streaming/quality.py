"""Streaming quality-filter monitoring.

Continuous ingest keeps per-group quality-filter acceptance counters
current without rescanning history — the ops dashboard for a training-data
intake pipeline ("what fraction of yesterday's crawl passed Gopher rule
X?"). Each micro-batch runs the caller's flag builder (any batch
DataFrame -> boolean-flag frame: ``gopher_filter``, ``c4_clean``, a
composition) and folds the per-group counts into a persisted additive
state via ``foreachBatch`` — the ``streaming/stats.py`` pattern with pure
bigint counter states.

Because the counters are additive, the final state is INDEPENDENT of
micro-batch boundaries: ingesting in 1 batch or 50 yields identical
counts, which is exactly what the oracle gate checks against a full-table
batch recompute. State layout and restart safety are the stats fold's:
``store.versioned_state_fold``, one Spark job per batch, replayed batches
skip on the current version's mark. Read the live state with
``read_state``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from sycamore_spark import store
from sycamore_spark.streaming.stats import read_state  # noqa: F401


def maintain_quality_stream(
    stream: DataFrame,
    group_cols: list[str],
    flags_builder: Callable[[DataFrame], DataFrame],
    state_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    n_state_partitions: int = 1,
):
    """Start a foreachBatch query folding per-group quality counters into
    ``state_dir``: ``n_docs`` plus one ``n_<flag>`` column per BOOLEAN
    column that ``flags_builder`` emits (non-boolean columns other than
    ``group_cols`` are ignored). Returns the StreamingQuery (caller
    awaits); read the final state with ``read_state(spark, state_dir)``."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.types import BooleanType

        spark = batch_df.sparkSession

        def make_merged(old: DataFrame | None) -> DataFrame:
            flags = flags_builder(batch_df)
            flag_cols = [
                f.name
                for f in flags.schema.fields
                if isinstance(f.dataType, BooleanType) and f.name not in group_cols
            ]
            contrib = flags.groupBy(*group_cols).agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                *[
                    F.sum(F.col(c).cast("long")).cast("long").alias(f"n_{c}")
                    for c in flag_cols
                ],
            )
            if old is None:
                return contrib
            counters = ["n_docs"] + [f"n_{c}" for c in flag_cols]
            return (
                old.alias("o")
                .join(contrib.alias("c"), group_cols, "full_outer")
                .select(
                    *[F.col(g) for g in group_cols],
                    *[
                        (
                            F.coalesce(F.col(f"o.{c}"), F.lit(0))
                            + F.coalesce(F.col(f"c.{c}"), F.lit(0))
                        ).cast("long").alias(c)
                        for c in counters
                    ],
                )
            )

        store.versioned_state_fold(
            spark, state_dir, checkpoint_dir, batch_id, make_merged,
            n_state_partitions=n_state_partitions,
        )

    return store.start_fold(stream, _fold, checkpoint_dir, available_now)
