"""The maintained retrieval stores and their raw-text twins.

- One term convention: the raw-text scorers and the bucketed postings +
  norms store agree bit-for-bit even on text with edge whitespace, empty
  text and NULL text.
- The touched-bucket folds and a store read run a pinned number of
  Spark jobs, so a refactor cannot add a job unnoticed.
- Mark and marker files are replaced atomically: a leftover
  temp file from a crashed write changes nothing, and an overwrite
  leaves complete content and no temp file."""

import os
import time

import numpy as np
import pytest

from sycamore_spark.materialize import _fs_write_text, _hadoop_fs
from sycamore_spark.operators.retrieval import (
    bm25_from_index,
    bm25_scores,
    bm25_scores_multi,
    bucketed_postings,
    doc_norms,
    index_apply_changes,
    norms_apply_changes,
    qlm_scores,
    rm3_expand,
    tfidf_topk_terms,
)
from sycamore_spark.operators.similarity import (
    ann_store_apply_changes,
    ivf_pq_encode,
    ivf_pq_train_arrays,
)
from sycamore_spark.store import read_mark

NB = 8
EDGE_ROWS = [
    (1, "alpha beta"),
    (2, "\talpha gamma"),
    (3, ""),
    (4, "beta beta delta"),
    (5, None),
    (6, "alpha\n"),
]
QUERIES = [(1, "alpha beta"), (2, "\tbeta delta")]


def _jobs(spark, thunk):
    """(result, number of Spark jobs ``thunk`` ran)."""
    sc = spark.sparkContext
    group = f"store-folds-{time.time_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _lexical_store(spark, root, docs):
    idx, nrm = f"{root}/idx", f"{root}/nrm"
    bucketed_postings(docs, n_buckets=NB).write.partitionBy("bkt").parquet(idx)
    doc_norms(docs, n_buckets=NB).write.partitionBy("nbkt").parquet(nrm)
    return idx, nrm


# -- one term convention -----------------------------------------------------


def test_raw_text_and_store_agree_on_edge_whitespace(spark, tmp_path):
    """Empty strings from a leading tab, a trailing newline or empty text
    are not terms: they count in no dl, N or avgdl, so the raw-text
    scorers equal the store read row for row."""
    docs = spark.createDataFrame(EDGE_ROWS, "doc_id bigint, text string")
    qdf = spark.createDataFrame(QUERIES, "query_id bigint, query string")
    idx, nrm = _lexical_store(spark, str(tmp_path), docs)

    raw = sorted(tuple(r) for r in bm25_scores_multi(docs, qdf).collect())
    served = sorted(tuple(r) for r in bm25_from_index(spark, idx, nrm, qdf, n_buckets=NB).collect())
    assert raw == served
    assert {r[1] for r in raw if r[0] == 1} == {1, 2, 4, 6}
    single = sorted(tuple(r) for r in bm25_scores(docs, ["alpha", "beta"]).collect())
    assert single == [(d, s) for q, d, s in raw if q == 1]

    assert "" not in {r.term for r in tfidf_topk_terms(docs).collect()}
    assert "" not in {r.term for r in rm3_expand(docs, qdf).collect()}
    # QLM on the same corpus with its whitespace normalized: an empty
    # string acting as a term would change cf, |C| and dl
    clean = spark.createDataFrame(
        [(i, None if t is None else " ".join(t.split())) for i, t in EDGE_ROWS],
        "doc_id bigint, text string",
    )
    clean_q = spark.createDataFrame([(i, " ".join(q.split())) for i, q in QUERIES], "query_id bigint, query string")
    assert sorted(tuple(r) for r in qlm_scores(docs, qdf).collect()) == sorted(
        tuple(r) for r in qlm_scores(clean, clean_q).collect()
    )


# -- pinned job counts ---------------------------------------------------------


def _vector_model():
    rng = np.random.RandomState(3)
    X = rng.rand(40, 8)
    cents, books = ivf_pq_train_arrays(X, ncells=4, m=2, subk=4, seed=1)
    return X, cents, books


@pytest.mark.parametrize("prepared,jobs", [
    (False, {"index": 15, "norms": 11, "ann": 13}),
    (True, {"index": 14, "norms": 10, "ann": 12}),
])
def test_fold_job_counts(spark, tmp_path, prepared, jobs):
    docs = spark.createDataFrame(EDGE_ROWS, "doc_id bigint, text string")
    idx, nrm = _lexical_store(spark, str(tmp_path), docs)
    X, cents, books = _vector_model()
    vecs = spark.createDataFrame([(i, X[i].tolist()) for i in range(40)], "vec_id bigint, embedding array<double>")
    ann = str(tmp_path / "ann")
    ivf_pq_encode(vecs, cents, books).drop("embedding").write.partitionBy("cell_id").parquet(ann)
    delta = spark.createDataFrame(
        [(1, None, "D"), (4, "delta epsilon", "U"), (9, "zeta zeta", "I")], "doc_id bigint, text string, op string"
    )
    vdelta = spark.createDataFrame(
        [(1, None, "D"), (4, X[5].tolist(), "U"), (99, X[6].tolist(), "I")],
        "vec_id bigint, embedding array<double>, op string",
    )
    if prepared:
        delta, vdelta = delta.localCheckpoint(eager=True), vdelta.localCheckpoint(eager=True)
    got = {
        "index": _jobs(spark, lambda: index_apply_changes(spark, idx, delta, n_buckets=NB, prepared=prepared))[1],
        "norms": _jobs(spark, lambda: norms_apply_changes(spark, nrm, delta, n_buckets=NB, prepared=prepared))[1],
        "ann": _jobs(spark, lambda: ann_store_apply_changes(spark, ann, vdelta, cents, books, prepared=prepared))[1],
    }
    assert got == jobs
    assert sorted((r.doc_id, r.dl) for r in spark.read.parquet(nrm).collect()) == [(2, 2), (4, 2), (6, 1), (9, 2)]


def test_store_read_job_count(spark, tmp_path):
    docs = spark.createDataFrame(EDGE_ROWS, "doc_id bigint, text string")
    qdf = spark.createDataFrame(QUERIES, "query_id bigint, query string")
    idx, nrm = _lexical_store(spark, str(tmp_path), docs)
    rows, jobs = _jobs(spark, lambda: bm25_from_index(spark, idx, nrm, qdf, n_buckets=NB, k=3).collect())
    assert jobs == 10 and len(rows) == 5


# -- atomic pointer writes -----------------------------------------------------


def _visible(d):
    return sorted(os.listdir(d))


def test_leftover_temp_file_changes_no_pointer(spark, tmp_path):
    """A crash mid-write leaves only a truncated hidden temp sibling;
    readers keep returning the committed content."""
    state = str(tmp_path / "state")
    os.makedirs(f"{state}/v=7")
    _fs_write_text(spark, f"{state}/v=7/_committed", "/ckpt\n3")
    _fs_write_text(spark, f"{state}/_hwm", "/ckpt\n3")
    for name, partial in (("v=7/._committed", "/ckpt\n4"), ("._hwm", "/ck")):
        with open(f"{state}/{name}.0123abcd.tmp", "w") as f:
            f.write(partial)
    assert read_mark(spark, state, 7) == ("/ckpt", 3)
    assert read_mark(spark, state) == ("/ckpt", 3)


def test_pointer_overwrite_is_complete_and_leaves_no_temp(spark, tmp_path):
    state = str(tmp_path / "state")
    version = f"{state}/v=0"
    os.makedirs(version)
    # a marker written by a plain checksummed create, as older code did
    fs, p = _hadoop_fs(spark, f"{version}/_committed")
    stream = fs.create(p, True)
    stream.write(bytearray(b"/ckpt\n0"))
    stream.close()
    assert ".crc" in " ".join(_visible(version))
    for i in range(1, 4):
        _fs_write_text(spark, f"{version}/_committed", f"/ckpt\n{i}")
        assert read_mark(spark, state, 0) == ("/ckpt", i)
        assert _visible(version) == ["_committed"]
    _fs_write_text(spark, f"file://{state}/_hwm", "/other\n5")
    assert read_mark(spark, state) == ("/other", 5)
    assert _visible(state) == ["_hwm", "v=0"]
    # hidden from Spark listings: a parquet read of a store dir holding
    # a leftover temp file still works
    spark.range(3).write.parquet(str(tmp_path / "store"))
    with open(tmp_path / "store" / "._hwm.0123abcd.tmp", "w") as f:
        f.write("/ck")
    assert spark.read.parquet(str(tmp_path / "store")).count() == 3
