"""Versioned ANN store + drift-triggered retrain-and-swap
(operators/similarity.py ann_store_publish/current_dir/vacuum/ann_reindex).

The swap discipline mirrors the reference's materialize USE_STORED
success-marker re-read (lib/sycamore/sycamore/materialize.py:277): a
version becomes visible only when its ``_committed`` marker lands, so a
reader resolves the old complete store or the new complete store, never
a partial write — and readers holding the old path keep it until vacuum.
"""

import glob

import pytest
from pyspark.sql import functions as F

from sycamore_spark.operators.similarity import (
    ann_reindex,
    ann_store_current_dir,
    ann_store_publish,
    ann_store_vacuum,
    ann_store_versions,
    ivf_pq_encode,
)

CENTS = [[0, 0], [1000, 1000], [2000, 2000]]
BOOKS = [[[0], [500]], [[0], [500]]]


def _corpus(spark, shift=0.0):
    rows = [(i, [0.97 * (i % 3) + shift, 0.98 * (i % 3) + shift]) for i in range(1, 13)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_publish_current_and_crash_window(spark, tmp_path):
    root = str(tmp_path / "vstore")
    enc = ivf_pq_encode(_corpus(spark), CENTS, BOOKS).select(
        "vec_id", "pq_codes", "cell_id"
    )
    with pytest.raises(LookupError):
        ann_store_current_dir(spark, root)
    assert ann_store_publish(spark, root, enc) == 0
    assert ann_store_current_dir(spark, root).endswith("/v=0")

    # a crashed publish: parquet written, marker never created -> invisible
    enc.write.partitionBy("cell_id").parquet(f"{root}/v=1")
    assert ann_store_versions(spark, root) == {"committed": [0], "pending": [1]}
    assert ann_store_current_dir(spark, root).endswith("/v=0")

    # the next publish must not clobber the half-written dir
    assert ann_store_publish(spark, root, enc) == 2
    assert ann_store_current_dir(spark, root).endswith("/v=2")

    # vacuum: keep the newest committed, drop superseded + pending
    assert ann_store_vacuum(spark, root, keep=1) == [0, 1]
    assert ann_store_versions(spark, root) == {"committed": [2], "pending": []}
    with pytest.raises(ValueError, match="keep"):
        ann_store_vacuum(spark, root, keep=0)


def test_swap_is_atomic_against_concurrent_reader(spark, tmp_path):
    """A reader that resolved the store BEFORE the swap keeps reading the
    old version's files untouched; a reader resolving AFTER sees the new
    version. The commit point is one marker-file create."""
    root = str(tmp_path / "vstore2")
    old = ivf_pq_encode(_corpus(spark), CENTS, BOOKS).select(
        "vec_id", "pq_codes", "cell_id"
    )
    ann_store_publish(spark, root, old)
    pre_dir = ann_store_current_dir(spark, root)
    reader = spark.read.parquet(pre_dir)  # resolved pre-swap
    before = sorted(map(tuple, reader.collect()))

    new = ivf_pq_encode(
        _corpus(spark).withColumn("vec_id", F.col("vec_id") + 100), CENTS, BOOKS
    ).select("vec_id", "pq_codes", "cell_id")
    ann_store_publish(spark, root, new)

    # old reader: identical rows, files untouched
    assert sorted(map(tuple, reader.collect())) == before
    assert sorted(map(tuple, spark.read.parquet(pre_dir).collect())) == before
    # new resolution: the swapped store
    cur = ann_store_current_dir(spark, root)
    assert cur != pre_dir
    got = {r.vec_id for r in spark.read.parquet(cur).collect()}
    assert got == {i + 100 for i in range(1, 13)}
    # compact layout: one file per cell directory
    for d in glob.glob(f"{cur}/cell_id=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1


def test_ann_reindex_under_threshold_keeps_version(spark, tmp_path):
    root = str(tmp_path / "vstore3")
    corpus = _corpus(spark)
    ann_store_publish(
        spark, root,
        ivf_pq_encode(corpus, CENTS, BOOKS).select("vec_id", "pq_codes", "cell_id"),
    )
    # batch drawn from the same distribution: tiny KL, no retrain
    out = ann_reindex(
        spark, root, corpus, corpus, CENTS, BOOKS,
        kl_threshold_nanos=10_000_000_000, sample_by="vec_id",
    )
    assert out["retrained"] is False and out["version"] == 0
    assert ann_store_versions(spark, root)["committed"] == [0]


def test_ann_reindex_retrains_and_swaps_on_drift(spark, tmp_path):
    root = str(tmp_path / "vstore4")
    corpus = _corpus(spark)
    ann_store_publish(
        spark, root,
        ivf_pq_encode(corpus, CENTS, BOOKS).select("vec_id", "pq_codes", "cell_id"),
    )
    # drifted batch: everything lands in the far cell under the old model
    batch = _corpus(spark, shift=1.9).filter(F.col("vec_id") % 3 == 0)
    new_model = ([[0, 0], [1500, 1500], [3500, 3500]], BOOKS)
    out = ann_reindex(
        spark, root, corpus, batch, CENTS, BOOKS,
        kl_threshold_nanos=100_000_000, train_fn=lambda c: new_model,
    )
    assert out["retrained"] is True and out["version"] == 1
    assert max(out["kl_ab_nanos"], out["kl_ba_nanos"]) > 100_000_000
    assert (out["centroids"], out["codebooks"]) == new_model
    # the current store now carries the NEW model's assignments
    cur = spark.read.parquet(ann_store_current_dir(spark, root))
    want = {
        (r.vec_id, r.cell_id)
        for r in ivf_pq_encode(corpus, *new_model).collect()
    }
    assert {(r.vec_id, r.cell_id) for r in cur.collect()} == want
    # old version retained for in-flight readers
    assert ann_store_versions(spark, root)["committed"] == [0, 1]


def _assert_versions(spark, root, committed: dict, pending: set, content) -> None:
    """The versioned-store invariants against a model: the listing splits
    committed and pending versions exactly, and the current version is
    the highest committed one and holds its payload (``content`` of it)."""
    vs = ann_store_versions(spark, root)
    assert vs == {"committed": sorted(committed), "pending": sorted(pending)}
    if committed:
        cur = ann_store_current_dir(spark, root)
        top = max(committed)
        assert cur.endswith(f"/v={top}")
        assert content(spark.read.parquet(cur)) == committed[top]
    else:
        with pytest.raises(LookupError):
            ann_store_current_dir(spark, root)


def test_versioned_store_random_op_sequences(spark, tmp_path):
    """Seeded randomized state-machine check (the repo's property layer for
    Spark-bound ops): any interleaving of publish / crashed-publish /
    vacuum keeps the invariants — current = max committed, committed
    versions hold exactly their published payload, version numbers never
    reuse (crashed dirs still reserve their number), vacuum keeps the
    newest `keep` committed and drops all pending."""
    import random

    from sycamore_spark.materialize import _fs_write_text

    rng = random.Random(41)
    enc_all = ivf_pq_encode(_corpus(spark), CENTS, BOOKS).select(
        "vec_id", "pq_codes", "cell_id"
    ).localCheckpoint(eager=True)
    as_set = lambda df: {  # noqa: E731 - pq_codes is a list, make it hashable
        (r.vec_id, tuple(r.pq_codes), r.cell_id) for r in df.collect()
    }

    for case in range(4):
        root = str(tmp_path / f"rstore{case}")
        committed: dict[int, set] = {}
        pending: set[int] = set()
        for step in range(rng.randint(3, 6)):
            op = rng.choice(["publish", "crash", "vacuum"])
            nxt = max(list(committed) + list(pending), default=-1) + 1
            payload = enc_all.filter(F.col("vec_id") % 3 == nxt % 3)
            if op == "publish":
                got = ann_store_publish(spark, root, payload)
                assert got == nxt
                committed[nxt] = as_set(payload)
            elif op == "crash":
                payload.write.partitionBy("cell_id").parquet(f"{root}/v={nxt}")
                pending.add(nxt)
            else:
                keep = rng.randint(1, 2)
                if committed:
                    dropped = ann_store_vacuum(spark, root, keep=keep)
                    want = sorted(committed)[:-keep] + sorted(pending)
                    assert dropped == sorted(want)
                    for n in dropped:
                        committed.pop(n, None)
                    pending.clear()
            _assert_versions(spark, root, committed, pending, as_set)
        # stray non-version junk in root must not confuse the listing
        _fs_write_text(spark, f"{root}/notes.txt", "x")
        assert ann_store_versions(spark, root) == {
            "committed": sorted(committed), "pending": sorted(pending)
        }


def test_state_fold_random_op_sequences(spark, tmp_path, monkeypatch):
    """The same invariants through the stats/quality state fold
    (streaming/stats.py versioned_state_fold), seeded: a crash between the
    version write and its marker leaves the prior version current and the
    next fold takes a higher number; a replayed batch id is a no-op; a new
    checkpoint lineage folds; a stray ``v=x`` dir and a leftover hidden
    temp file are ignored; each fold keeps the current and the previous
    version and drops pending ones."""
    import os
    import random

    from sycamore_spark import store
    from sycamore_spark.streaming.stats import read_state, versioned_state_fold

    rng = random.Random(43)
    write_text = store._fs_write_text

    def crash_before_marker(spark_, path, text):
        if path.endswith("/_committed"):
            raise RuntimeError("crash before the commit marker")
        write_text(spark_, path, text)

    def add(k):
        def make(old):
            if old is None:
                return spark.createDataFrame([(k,)], "n long")
            return old.select((F.col("n") + k).alias("n"))
        return make

    total_of = lambda df: [r.n for r in df.collect()]  # noqa: E731

    for case in range(4):
        root = str(tmp_path / f"state{case}")
        committed: dict[int, list] = {}
        pending: set[int] = set()
        ckpt, bid, total = f"ck{case}", -1, 0
        for step in range(rng.randint(5, 8)):
            op = rng.choice(["fold", "crash", "replay", "lineage", "stray"])
            nxt = max(list(committed) + list(pending), default=-1) + 1
            k = rng.randint(1, 9)
            if op == "lineage":  # batch ids restart at 0 under a new dir
                ckpt, bid = f"ck{case}-{step}", -1
            if op in ("fold", "lineage"):
                versioned_state_fold(spark, root, ckpt, bid + 1, add(k))
                bid, total = bid + 1, total + k
                committed[nxt] = [total]
                committed = {n: committed[n] for n in sorted(committed)[-2:]}
                pending.clear()
            elif op == "crash":
                with monkeypatch.context() as m:
                    m.setattr(store, "_fs_write_text", crash_before_marker)
                    with pytest.raises(RuntimeError, match="commit marker"):
                        versioned_state_fold(spark, root, ckpt, bid + 1, add(k))
                pending.add(nxt)
            elif op == "replay" and bid >= 0:
                versioned_state_fold(spark, root, ckpt, rng.randint(0, bid), add(k))
            elif op == "stray":
                os.makedirs(f"{root}/v=x", exist_ok=True)
                with open(f"{root}/v=x/part-0.parquet", "w") as f:
                    f.write("junk")
                with open(f"{root}/._committed.0123abcd.tmp", "w") as f:
                    f.write("/ck\n99")
            _assert_versions(spark, root, committed, pending, total_of)
            if committed:
                assert total_of(read_state(spark, root)) == [total]


def test_ann_reindex_rejects_silent_prefix_training(spark, tmp_path):
    """A drift-triggered retrain must not prefix-sample the very corpus
    whose distribution moved: default training requires sample_by."""
    root = str(tmp_path / "vstore5")
    corpus = _corpus(spark)
    ann_store_publish(
        spark, root,
        ivf_pq_encode(corpus, CENTS, BOOKS).select("vec_id", "pq_codes", "cell_id"),
    )
    batch = _corpus(spark, shift=1.9)
    with pytest.raises(ValueError, match="sample_by"):
        ann_reindex(spark, root, corpus, batch, CENTS, BOOKS, kl_threshold_nanos=0)
