"""Parallelism repair for Python-heavy stages.

Catalyst sizes scan partitions for JVM throughput
(``spark.sql.files.maxPartitionBytes`` = 128 MB), which is correct for
codegen'd expressions but wrong for Arrow/pandas stages whose per-row cost
is dominated by Python: a 5 MB single-row-group parquet file loads as ONE
partition, so a per-doc pandas UDF runs on one core while 31 idle. At
cluster scale the input is thousands of files and this never bites; on a
laptop or a small extract it silently serializes the slowest stages (this
repo's table_ted bench query spent 2.1 s of its 2.4 s in exactly this
trap).

``fan_out`` widens ONLY when the input is narrower than the session's
parallelism — a no-op on well-partitioned cluster inputs, so operators can
apply it unconditionally before expensive Python stages. It uses
round-robin ``repartition(n)`` (not coalesce, which cannot widen; not
``rebalance``, which is AQE-hint-only) — one narrow-ish shuffle of rows
that are about to each cost milliseconds of Python anyway.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism (or
    ``min_partitions``) if and only if it currently has fewer partitions.
    Cheap insurance before a per-row Python stage; no-op at cluster scale."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def lineage_cut(df: DataFrame, checkpoint_dir: str | None = None, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage at an iteration boundary.

    Iterative operators (label propagation, PageRank) grow their logical
    plan every round; without a cut, planning cost grows quadratically and
    the DAG eventually overflows. Two cuts exist with different durability:

    - ``checkpoint_dir is None`` -> ``localCheckpoint``: blocks are kept in
      executor storage. Fast (no FS write) but VOLATILE — on a real cluster
      an executor loss mid-propagation recomputes from a truncated lineage
      that no longer exists, failing the job. Right for local mode and
      tests only.
    - ``checkpoint_dir`` set -> durable ``checkpoint()`` to that directory
      (HDFS/S3A/local path; ``sparkContext.setCheckpointDir`` is applied
      idempotently). Survives executor loss — the required mode for long
      iterative jobs on a multi-executor cluster.

    Results are identical either way; only failure-recovery behavior
    differs (unit-tested both paths in ``tests/test_checkpointing.py``).
    """
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def duplicate_ids(df: DataFrame, id_col: str) -> DataFrame:
    """Up to five ``id_col`` values that occur more than once in ``df``:
    the one-row-per-id check of a CDC delta (empty when it holds)."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(F.col(id_col))
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(5)
        .select(id_col)
    )


def fold_touched_buckets(
    store_dir: str,
    store: DataFrame | None,
    changes: DataFrame,
    new_rows: Callable[[DataFrame], DataFrame],
    id_col: str,
    bucket_col: str,
    op_col: str,
    delete_op: str,
    bucket_of_id: Column | None = None,
    rebuild: Callable[[DataFrame], DataFrame] | None = None,
    prepared: bool = False,
) -> int:
    """Fold a CDC delta (each id at most once, batch-sized) into a store
    written ``partitionBy(bucket_col)`` at ``store_dir``, rewriting only the
    buckets the delta touches. Returns the touched-bucket count.

    The caller supplies what differs between stores:

    - ``store``: the store as read, or None when a missing store counts
      as empty (the fold then builds the buckets from the delta alone);
    - ``new_rows(upserts)``: the delta's non-delete rows (``op_col``
      dropped) in the store's layout, ``id_col`` and ``bucket_col``
      included;
    - ``bucket_of_id``: a bucket expression over ``id_col`` when buckets
      are a hash of the id, so the touched buckets follow from the delta
      alone; None finds the old buckets of the delta ids with a semi-join
      scan of the store and adds the buckets of the new rows;
    - ``rebuild(merged)``: an optional per-bucket recompute of the merged
      rows (whatever it derives must stay inside a bucket).

    Jobs: one probe collect (touched buckets; the duplicate-id check rides
    it unless ``prepared``), one survivors collect that also materializes
    the lazy cut of the merged rows, and the dynamic-partition overwrite.
    The cut is required: the write replaces files the merged plan reads.
    ``prepared=True`` asserts the caller already cut and dup-checked the
    delta; an unchecked duplicate id would silently duplicate rows.
    Dynamic overwrite cannot write an empty partition, so the directory of
    a bucket whose last row was deleted is removed explicitly."""
    from pyspark.sql import functions as F

    from sycamore_spark.materialize import _hadoop_fs

    if not prepared:
        # lazy: the probe below is the first action on the delta
        changes = lineage_cut(changes, eager=False)
    new = new_rows(changes.filter(F.col(op_col) != delete_op).drop(op_col))
    delta_ids = changes.select(F.col(id_col)).distinct()
    if bucket_of_id is not None:
        buckets = changes.select(bucket_of_id.alias(bucket_col)).distinct()
    else:
        new_buckets = new.select(bucket_col).distinct()
        old_buckets = (
            new_buckets.limit(0) if store is None else
            store.join(F.broadcast(delta_ids), id_col, "left_semi")
            .select(bucket_col).distinct()
        )
        buckets = old_buckets.unionByName(new_buckets).distinct()
    probe = buckets.select(
        F.lit("b").alias("_k"), F.col(bucket_col).cast("string").alias("_v")
    )
    if not prepared:
        probe = duplicate_ids(changes, id_col).select(
            F.lit("d").alias("_k"), F.col(id_col).cast("string").alias("_v")
        ).unionByName(probe)
    rows = probe.collect()
    dup = [r[1] for r in rows if r[0] == "d"]
    if dup:
        raise ValueError(
            f"delta carries duplicate {id_col} values {dup}: collapse each id "
            f"to one final row (deterministic winner, e.g. max seq) before applying"
        )
    touched = sorted(int(r[1]) for r in rows if r[0] == "b")
    if not touched:
        return 0
    keep = (
        new.limit(0) if store is None else
        store.filter(F.col(bucket_col).isin(touched))
        .join(F.broadcast(delta_ids), id_col, "left_anti")
        .select(*new.columns)
    )
    merged = keep.unionByName(new)
    if rebuild is not None:
        merged = rebuild(merged)
    # lazy: the survivors collect computes every partition of the cut
    merged = lineage_cut(merged, eager=False)
    survivors = {r[0] for r in merged.select(bucket_col).distinct().collect()}
    (
        merged.repartition(len(touched), F.col(bucket_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(bucket_col)
        .parquet(store_dir)
    )
    for b in touched:
        if b not in survivors:
            fs, p = _hadoop_fs(changes.sparkSession, f"{store_dir.rstrip('/')}/{bucket_col}={b}")
            fs.delete(p, True)
    return len(touched)


def overlap_jobs(*thunks, max_workers: int | None = None) -> list:
    """Run independent Spark actions concurrently from driver threads
    (optimization guide §2.6 "Overlap independent jobs").

    Spark's scheduler happily runs several jobs at once inside one
    application; actions are only sequential because driver code calls them
    sequentially. Multi-store compositions (the bm25_serve / hybrid_serve /
    CDC-fold shapes) run several INDEPENDENT corpus passes — e.g. the
    postings build and the ANN encode, or the postings fold and the norms
    fold of the same checkpointed delta — and submitting them from a small
    thread pool lets the next job's tasks back-fill executors freed by the
    current job's stage tails instead of leaving the cluster idle behind
    each straggler. Default FIFO scheduling gives exactly that back-fill
    behavior (the earlier job gets resources first, later jobs use what is
    left).

    Returns the thunk results in call order; the first exception (if any)
    propagates after all submitted thunks have been scheduled. Single-thunk
    calls run inline (no pool).

    Thread-local Spark properties (job group/description/scheduler pool)
    are COPIED from the calling thread into each worker before its thunk
    runs (PySpark's pinned-thread mode does not inherit them across
    driver threads), so ``cancelJobGroup``/``StreamingQuery.stop()``
    job-group cancellation reaches jobs submitted from the pool and the
    UI labels them under the caller's group.
    """
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    props = (
        sc._jsc.sc().getLocalProperties().clone() if sc is not None else None
    )

    def _with_props(t):
        def run():
            if props is not None:
                sc._jsc.sc().setLocalProperties(props.clone())
            return t()

        return run

    with ThreadPoolExecutor(max_workers=max_workers or len(thunks)) as pool:
        futures = [pool.submit(_with_props(t)) for t in thunks]
        return [f.result() for f in futures]


def distributed_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based row_number over a STRICT total order without the
    single-task global window: range-partition on the order columns, count
    rows per partition (a numPartitions-row aggregate), broadcast the
    cumulative offsets back, and run a PER-PARTITION row_number window —
    every stage is parallel, so a corpus-scale global rank costs one range
    shuffle plus a tiny broadcast instead of funneling the corpus through
    one window task.

    ``order_cols`` are Column expressions (include .desc()/.asc() as
    needed) and MUST define a strict total order (break ties with a
    unique id): the rank of a row is then the count of rows strictly
    before it, which does not depend on where the range partitioner
    happens to place its boundaries — the output is partitioning-
    independent and deterministic even though the sampled boundaries are
    not.

    ``ranged`` feeds TWO consumers (the offsets aggregate and the join),
    which must observe the SAME partition-id assignment. Relying on
    Spark's exchange reuse for that is fragile — with
    ``spark.sql.exchange.reuse=false`` or a plan recompilation, each
    Exchange would re-sample range boundaries with a different seed and
    the branches could disagree. The lazy ``lineage_cut`` pins both
    branches to ONE RDD (one RangePartitioner instance, one fixed set of
    boundaries) regardless of exchange-reuse settings.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = lineage_cut(
        df.repartitionByRange(n, *order_cols).withColumn(
            "_dr_pid", F.spark_partition_id()
        ),
        eager=False,
    )
    offsets = (
        ranged.groupBy("_dr_pid")
        .agg(F.count(F.lit(1)).alias("_dr_n"))
        .withColumn(
            "_dr_off",
            F.coalesce(
                F.sum("_dr_n").over(
                    Window.orderBy("_dr_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("_dr_n")
    )
    local = F.row_number().over(
        Window.partitionBy("_dr_pid").orderBy(*order_cols)
    )
    return (
        ranged.join(F.broadcast(offsets), "_dr_pid")
        .withColumn(rank_col, (F.col("_dr_off") + local).cast("long"))
        .drop("_dr_pid", "_dr_off")
    )


def distributed_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "_cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global inclusive prefix sum of ``value_col`` over a STRICT total
    order, without the single-task global window — the two-pass
    ``distributed_rank`` shape with sums instead of counts: range-partition
    on the order columns, sum each partition (numPartitions rows),
    broadcast the cumulative offsets back, add a per-partition running
    sum. Every stage is parallel; the result is partitioning-independent
    when the order is strict (ties make any running sum implementation
    order-dependent — same contract as the window it replaces).

    As in ``distributed_rank``, the ranged frame is lazily
    lineage-cut so its two consumers share one RangePartitioner (one set
    of sampled boundaries) even when exchange reuse is off."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    v = F.col(value_col).cast("long")
    ranged = lineage_cut(
        df.repartitionByRange(n, *order_cols).withColumn(
            "_dc_pid", F.spark_partition_id()
        ),
        eager=False,
    )
    offsets = (
        ranged.groupBy("_dc_pid")
        .agg(F.sum(v).alias("_dc_s"))
        .withColumn(
            "_dc_off",
            F.coalesce(
                F.sum("_dc_s").over(
                    Window.orderBy("_dc_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("_dc_s")
    )
    local = F.sum(v).over(
        Window.partitionBy("_dc_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.join(F.broadcast(offsets), "_dc_pid")
        .withColumn(out_col, (F.col("_dc_off") + local).cast("long"))
        .drop("_dc_pid", "_dc_off")
    )
