"""Structured Streaming ingest.

The reference has NO streaming runtime (SURVEY.md §2.11) — Ray pipelined
batch only. This module is the Spark-native extension the ingest path gets
for free: file-arrival triggered pipelines running the same DataFrame
transforms, watermarked event-time windows for late data, and exactly-once
parquet sinks via checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sycamore_spark import store


def stream_from_directory(spark: SparkSession, path: str, schema: StructType,
                          fmt: str = "parquet", max_files_per_trigger: int | None = None) -> DataFrame:
    """File-arrival stream: new files in ``path`` flow through the same
    transform graph as batch reads."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_event_counts(events: DataFrame, ts_col: str = "ts", window: str = "1 hour",
                          watermark: str = "2 hours", group_col: str | None = "event_type") -> DataFrame:
    """Watermarked tumbling-window aggregation: late rows beyond the
    watermark are dropped deterministically; state is bounded (the 100 TB
    requirement for infinite streams)."""
    from sycamore_spark.functions.time import as_event_time

    events = as_event_time(events, ts_col)  # watermark rejects TIMESTAMP_NTZ
    keys = [F.window(F.col(ts_col), window)]
    if group_col:
        keys.append(F.col(group_col))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(
            F.col("window.start").alias("window_start"),
            *( [F.col(group_col)] if group_col else [] ),
            "n", "value_sum",
        )
    )


def write_stream_parquet(df: DataFrame, path: str, checkpoint: str,
                         trigger_available_now: bool = True):
    """Exactly-once parquet sink; availableNow drains existing files then
    stops (used for deterministic tests and backfills)."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def dedup_append_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    key_col: str,
    await_seconds: int | None = None,
):
    """Self-building deduplicated corpus: each micro-batch drops rows whose
    ``key_col`` already exists in the corpus written SO FAR (plus in-batch
    duplicates), then appends the remainder to ``out_dir``.

    The foreachBatch + checkpoint combination is what makes this
    exactly-once across restarts: Structured Streaming records the last
    committed batch id in ``checkpoint``, so a replayed batch is
    re-offered with the same id and the sink's append is not repeated for
    batches already committed. The per-batch anti-join against the
    corpus-so-far is the streaming twin of
    ``dedup.incremental_dedup`` with the output as the corpus.

    Returns the started StreamingQuery (already terminated when
    ``await_seconds`` is given with an availableNow-style source).
    """
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.dropDuplicates([key_col])
        corpus = store.read_store(batch_df.sparkSession, out_dir)
        if corpus is not None:  # None: first batch, no corpus yet
            fresh = fresh.join(corpus.select(key_col).distinct(), key_col, "left_anti")
        fresh.write.mode("append").parquet(out_dir)

    q = store.start_fold(stream, handle, checkpoint)
    if await_seconds:
        q.awaitTermination(await_seconds)
    return q
