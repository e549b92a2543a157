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

from collections import Counter
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
      alone; None finds the old buckets of the delta ids with a scan of
      the store filtered by those ids and adds the buckets of the new rows;
    - ``rebuild(merged)``: an optional per-bucket recompute of the merged
      rows (whatever it derives must stay inside a bucket). It runs on
      rows already hash-partitioned by ``bucket_col``, so a window
      partitioned by the bucket plus its own keys adds no shuffle.

    Jobs: one probe collect over the delta (its ids, and either their
    buckets or the new rows' buckets), one collect of the old buckets of
    the delta ids (not with ``bucket_of_id``), then the overwrite: one
    shuffle by bucket, shared by ``rebuild`` and the write, and the write
    itself. Reading ``store`` costs none when the caller reads it with
    ``store.read_parquet`` (the schema comes from one footer on the
    driver), as the postings, norms and ANN folds do. The shuffle has at most one partition per slot
    (``defaultParallelism``); a bucket lands in one partition, so each
    touched bucket is still written as one file. The ids go back into the
    plan as a literal id list, so neither the old-bucket scan nor the
    removal of the delta ids from the kept rows broadcasts anything (a
    broadcast, even of a LocalRelation, is a job of its own), and the
    duplicate-id check runs on the driver over the probed ids.
    ``new_rows`` is cut once, lazily: the probe computes it (the ANN
    encode is a Python stage) and the merge reads the cut; a shuffle
    inside it runs when it is cut. The merged rows are cut too, because
    the write replaces files the merged plan reads; the write's first
    stage computes that cut. ``prepared=True`` asserts the caller already
    cut the delta, and only skips the entry cut.

    The delta runs as one partition: it is batch-sized by contract, and
    the probe brings all of its ids to the driver anyway. Each delta stage
    is then one task, and a per-id aggregate in ``new_rows`` (the index's
    term counts) needs no shuffle. A delta the caller has not cut computes
    its own lineage in that one task too.

    Dynamic overwrite cannot write an empty partition. A touched bucket
    whose file listing is the same after the overwrite as before received
    no rows: its last row was deleted, so its directory is removed. If
    that removal does not happen, the bucket keeps the rows of deleted
    ids; re-running the fold touches it again and removes it."""
    from pyspark.sql import functions as F

    from sycamore_spark.materialize import _hadoop_fs

    if not prepared:
        # lazy: the probe below is the first action on the delta
        changes = lineage_cut(changes, eager=False)
    changes = changes.coalesce(1)
    new = lineage_cut(
        new_rows(changes.filter(F.col(op_col) != delete_op).drop(op_col)), eager=False
    )
    probe = changes.select(
        F.lit(True).alias("_delta"),
        F.col(id_col),
        (F.lit(None) if bucket_of_id is None else bucket_of_id).alias(bucket_col),
    )
    if bucket_of_id is None:
        probe = probe.unionByName(
            new.select(F.lit(False).alias("_delta"), F.lit(None).alias(id_col), bucket_col)
        )
    rows = probe.collect()
    counts = Counter(r[1] for r in rows if r[0])
    dup = [i for i, n in counts.items() if n > 1][:5]
    if dup:
        raise ValueError(
            f"delta carries duplicate {id_col} values {dup}: collapse each id "
            f"to one final row (deterministic winner, e.g. max seq) before applying"
        )
    # the delta rows carry their buckets with bucket_of_id, else the new rows do
    touched = {r[2] for r in rows if r[0] == (bucket_of_id is not None)}
    # a NULL id matches no store row, as in a join
    delta_id = _isin(id_col, [i for i in counts if i is not None])
    if bucket_of_id is None and store is not None and counts:
        touched.update(r[0] for r in store.filter(delta_id).select(bucket_col).collect())
    if not touched:
        return 0
    touched = sorted(touched)
    keep = (
        new.limit(0) if store is None else
        store.filter(_isin(bucket_col, touched) & ~F.coalesce(delta_id, F.lit(False)))
        .select(*new.columns)
    )
    spark = changes.sparkSession
    merged = lineage_cut(keep.unionByName(new), eager=False).repartition(
        min(len(touched), spark.sparkContext.defaultParallelism), F.col(bucket_col)
    )
    if rebuild is not None:
        merged = rebuild(merged)
    dirs = [_hadoop_fs(spark, f"{store_dir.rstrip('/')}/{bucket_col}={b}") for b in touched]
    before = [_files(fs, p) for fs, p in dirs]
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(bucket_col)
        .parquet(store_dir)
    )
    for (fs, p), names in zip(dirs, before):
        if _files(fs, p) == names:
            fs.delete(p, True)
    return len(touched)


def _isin(col: str, values: list) -> Column:
    """``col IN (values)``. Integers go in as one SQL string, one call into
    the JVM, where ``Column.isin`` makes a round trip per value."""
    from pyspark.sql import functions as F

    if values and all(type(v) is int for v in values):
        return F.expr(f"`{col.replace('`', '``')}` IN ({', '.join(map(str, values))})")
    return F.col(col).isin(values)


def _files(fs, path) -> set:
    """The entry names in the directory ``path`` (empty when absent)."""
    return {s.getPath().getName() for s in fs.listStatus(path)} if fs.exists(path) else set()


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
