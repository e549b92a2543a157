"""Additive-state stats maintenance (operators/incremental.py): the merge
path must be bit-identical to a full recompute."""

from pyspark.sql import functions as F

from sycamore_spark.operators.incremental import corpus_stats, finalize_stats, merge_stats


def _docs(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN 'web' ELSE 'books' END AS source",
        "(id % 977) + 1 AS n_chars",
    )


def test_merge_equals_full_recompute_bitwise(spark):
    old, delta = _docs(spark, 0, 5000), _docs(spark, 5000, 6000)
    merged = merge_stats(
        corpus_stats(old, ["source"], "n_chars"),
        corpus_stats(delta, ["source"], "n_chars"),
        ["source"],
    )
    full = corpus_stats(old.unionByName(delta), ["source"], "n_chars")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))
    # merge is re-mergeable: fold a third batch onto the merged state
    third = _docs(spark, 6000, 6500)
    m2 = merge_stats(merged, corpus_stats(third, ["source"], "n_chars"), ["source"])
    f2 = corpus_stats(_docs(spark, 0, 6500), ["source"], "n_chars")
    assert sorted(map(tuple, m2.collect())) == sorted(map(tuple, f2.collect()))


def test_merge_handles_group_only_in_one_side(spark):
    a = spark.createDataFrame([(1, "web", 10)], "doc_id long, source string, n_chars long")
    b = spark.createDataFrame([(2, "code", 20)], "doc_id long, source string, n_chars long")
    m = merge_stats(
        corpus_stats(a, ["source"], "n_chars"),
        corpus_stats(b, ["source"], "n_chars"),
        ["source"],
    ).collect()
    got = {r.source: (r.n, r.min, r.max) for r in m}
    assert got == {"web": (1, 10, 10), "code": (1, 20, 20)}


def test_finalize_mean_stddev(spark):
    df = spark.createDataFrame(
        [(i, "s", v) for i, v in enumerate([2, 4, 4, 4, 5, 5, 7, 9])],
        "doc_id long, source string, n_chars long",
    )
    out = finalize_stats(corpus_stats(df, ["source"], "n_chars")).collect()[0]
    assert out.mean == 5.0 and out.stddev == 2.0  # classic textbook set


def test_streaming_maintenance_batch_boundary_independent(spark, tmp_path):
    from sycamore_spark.streaming.stats import maintain_stats_stream

    docs = _docs(spark, 0, 3000)
    src = str(tmp_path / "src")
    docs.repartition(6).write.parquet(src)
    states = []
    for i, per_trigger in enumerate((1, 6)):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", per_trigger)
            .parquet(src)
        )
        q = maintain_stats_stream(
            stream, ["source"], "n_chars",
            str(tmp_path / f"state{i}"), str(tmp_path / f"ckpt{i}"),
        )
        q.awaitTermination(300)
        from sycamore_spark.streaming.stats import read_state

        st = read_state(spark, str(tmp_path / f"state{i}"))
        states.append(sorted(map(tuple, st.collect())))
    assert states[0] == states[1]
    full = sorted(map(tuple, corpus_stats(docs, ["source"], "n_chars").collect()))
    assert states[0] == full


def test_streaming_fold_is_replay_idempotent(spark, tmp_path):
    # a batch whose state version committed but whose checkpoint commit
    # did not is re-run on restart; the current version's mark must make
    # the re-fold a no-op (exactly-once state). Simulate by re-running the
    # whole stream against the SAME checkpoint dir (no new data -> no new
    # batches) and then faking a replay via the same checkpoint lineage.
    from sycamore_spark.streaming.stats import maintain_stats_stream

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "source string, n_chars long"
    )
    df.repartition(2).write.parquet(src)
    from sycamore_spark import store
    from sycamore_spark.streaming.stats import read_state

    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    maintain_stats_stream(stream, ["source"], "n_chars", state, ckpt).awaitTermination(120)
    st1 = {r.source: (r.n, r.sum) for r in read_state(spark, state).collect()}
    hwm1 = store.read_mark(spark, state, store.versions(spark, state)["committed"][-1])[1]

    # restart on the same checkpoint: no new files, nothing re-folds
    stream2 = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    maintain_stats_stream(stream2, ["source"], "n_chars", state, ckpt).awaitTermination(120)
    st2 = {r.source: (r.n, r.sum) for r in read_state(spark, state).collect()}
    assert st2 == st1

    # a FRESH checkpoint lineage (new data, ids restart at 0) must fold:
    # the mark is scoped to the checkpoint dir, not globally
    src3 = str(tmp_path / "src3")
    spark.createDataFrame([("a", 30)], "source string, n_chars long").write.parquet(src3)
    stream3 = spark.readStream.schema(df.schema).parquet(src3)
    maintain_stats_stream(stream3, ["source"], "n_chars", state, str(tmp_path / "ckpt3")).awaitTermination(120)
    st3 = {r.source: (r.n, r.sum) for r in read_state(spark, state).collect()}
    assert st3["a"][0] == st1["a"][0] + 1
    assert hwm1 is not None


def test_state_reader_keeps_previous_version_through_next_fold(spark, tmp_path):
    """A reader that resolved the live version can still read it after
    the next fold commits: the fold keeps the previous version."""
    from sycamore_spark.streaming.stats import current_state_dir, versioned_state_fold

    state = str(tmp_path / "held")

    def put(n):
        return lambda old: spark.createDataFrame([("a", n)], "g string, n long")

    versioned_state_fold(spark, state, "ck", 0, put(1))
    held = current_state_dir(spark, state)
    reader = spark.read.parquet(held)  # resolved and listed before the fold
    versioned_state_fold(spark, state, "ck", 1, put(2))
    assert current_state_dir(spark, state) != held
    assert [tuple(r) for r in reader.collect()] == [("a", 1)]


def test_versioned_state_fold_protocol(spark, tmp_path):
    """The versioned-state protocol: each fold writes a NEW v=<n> dir and
    only then commits it with a marker carrying the replay mark (the
    prior version is intact until the commit — the crash-window
    property), replays skip on that mark, and versions older than the
    previous one are vacuumed."""
    import os

    from sycamore_spark import store
    from sycamore_spark.streaming.stats import (
        current_state_dir, read_state, versioned_state_fold,
    )

    state = str(tmp_path / "vstate")
    ckpt = "ckptA"

    def mk(vals):
        def make_merged(old):
            contrib = spark.createDataFrame(vals, "g string, n long")
            if old is None:
                return contrib
            from pyspark.sql import functions as F

            return (
                old.alias("o").join(contrib.alias("c"), "g", "full_outer")
                .select(
                    "g",
                    (F.coalesce(F.col("o.n"), F.lit(0))
                     + F.coalesce(F.col("c.n"), F.lit(0))).alias("n"),
                )
            )
        return make_merged

    versioned_state_fold(spark, state, ckpt, 0, mk([("a", 1)]))
    assert current_state_dir(spark, state).endswith("/v=0")
    assert {r.g: r.n for r in read_state(spark, state).collect()} == {"a": 1}

    # a crashed-then-replayed batch id folds as a no-op
    versioned_state_fold(spark, state, ckpt, 0, mk([("a", 99)]))
    assert {r.g: r.n for r in read_state(spark, state).collect()} == {"a": 1}

    # the next batch commits v=1 and keeps v=0 as the previous version
    versioned_state_fold(spark, state, ckpt, 1, mk([("a", 2), ("b", 5)]))
    assert current_state_dir(spark, state).endswith("/v=1")
    assert {r.g: r.n for r in read_state(spark, state).collect()} == {"a": 3, "b": 5}
    assert sorted(d for d in os.listdir(state) if d.startswith("v=")) == ["v=0", "v=1"]
    assert store.read_mark(spark, state, 1) == (ckpt, 1)

    # a NEW checkpoint lineage restarts batch ids at 0 but versions keep
    # counting — the fresh fold must not collide with the live version
    versioned_state_fold(spark, state, "ckptB", 0, mk([("b", 1)]))
    assert current_state_dir(spark, state).endswith("/v=2")
    assert {r.g: r.n for r in read_state(spark, state).collect()} == {"a": 3, "b": 6}
