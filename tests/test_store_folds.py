"""The maintained retrieval stores and their raw-text twins.

- One term convention: the raw-text scorers and the bucketed postings +
  norms store agree bit-for-bit even on text with edge whitespace, empty
  text and NULL text.
- The touched-bucket folds and a store read run a pinned number of
  Spark jobs, so a refactor cannot add a job unnoticed; the ANN fold
  encodes its upserts once.
- A fold rejects a duplicate id, prepared delta or not, before any file
  changes; a failed emptied-bucket delete converges when the fold is
  re-run.
- Mark and marker files are replaced atomically: a leftover
  temp file from a crashed write changes nothing, and an overwrite
  leaves complete content and no temp file."""

import os

import numpy as np
import pytest
from conftest import count_jobs

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


def _stores(spark, tmp_path):
    """The lexical store pair of EDGE_ROWS and an ANN store of 40 vectors."""
    docs = spark.createDataFrame(EDGE_ROWS, "doc_id bigint, text string")
    idx, nrm = _lexical_store(spark, str(tmp_path), docs)
    X, cents, books = _vector_model()
    vecs = spark.createDataFrame([(i, X[i].tolist()) for i in range(40)], "vec_id bigint, embedding array<double>")
    ann = str(tmp_path / "ann")
    ivf_pq_encode(vecs, cents, books).drop("embedding").write.partitionBy("cell_id").parquet(ann)
    return idx, nrm, ann, X, cents, books


def _counted_encode(spark, monkeypatch):
    """Make the ANN fold's encode add its Python stage's rows to the
    returned accumulator: a stage that runs twice counts its rows twice."""
    from sycamore_spark.operators import similarity

    rows = spark.sparkContext.accumulator(0)
    encode = similarity.ivf_pq_encode

    def counted(df, *args, **kwargs):
        out = encode(df, *args, **kwargs)

        def run(it):
            for pdf in it:
                rows.add(len(pdf))
                yield pdf

        return out.mapInPandas(run, schema=out.schema)

    monkeypatch.setattr(similarity, "ivf_pq_encode", counted)
    return rows


@pytest.mark.parametrize("prepared,jobs", [
    (False, {"index": 4, "norms": 3, "ann": 4}),
    (True, {"index": 4, "norms": 3, "ann": 4}),
])
def test_fold_job_counts(spark, tmp_path, monkeypatch, prepared, jobs):
    """Per fold: the delta probe, the old-bucket collect (not for norms),
    the shuffle by bucket and the write; the store's schema comes from a
    footer read on the driver, not a job. The ANN upserts go through the
    encode's Python stage once."""
    idx, nrm, ann, X, cents, books = _stores(spark, tmp_path)
    delta = spark.createDataFrame(
        [(1, None, "D"), (4, "delta epsilon", "U"), (9, "zeta zeta", "I")], "doc_id bigint, text string, op string"
    )
    vdelta = spark.createDataFrame(
        [(1, None, "D"), (4, X[5].tolist(), "U"), (99, X[6].tolist(), "I")],
        "vec_id bigint, embedding array<double>, op string",
    )
    if prepared:
        delta, vdelta = delta.localCheckpoint(eager=True), vdelta.localCheckpoint(eager=True)
    encoded = _counted_encode(spark, monkeypatch)
    got = {
        "index": count_jobs(spark, lambda: index_apply_changes(spark, idx, delta, n_buckets=NB, prepared=prepared))[1],
        "norms": count_jobs(spark, lambda: norms_apply_changes(spark, nrm, delta, n_buckets=NB, prepared=prepared))[1],
        "ann": count_jobs(spark, lambda: ann_store_apply_changes(spark, ann, vdelta, cents, books, prepared=prepared))[1],
    }
    assert got == jobs
    assert encoded.value == 2
    assert sorted((r.doc_id, r.dl) for r in spark.read.parquet(nrm).collect()) == [(2, 2), (4, 2), (6, 1), (9, 2)]


def _files(root):
    """Every file under ``root`` with its size and mtime."""
    return sorted(
        (os.path.relpath(os.path.join(d, n), root), os.stat(os.path.join(d, n)).st_size,
         os.stat(os.path.join(d, n)).st_mtime_ns)
        for d, _, names in os.walk(root) for n in names
    )


def test_prepared_delta_with_a_duplicate_id_raises(spark, tmp_path):
    """``prepared=True`` skips only the entry cut: a duplicate id still
    raises, before any store file changes."""
    idx, nrm, ann, X, cents, books = _stores(spark, tmp_path)
    delta = spark.createDataFrame(
        [(4, "delta", "U"), (9, "zeta", "I"), (4, "epsilon", "U")], "doc_id bigint, text string, op string"
    ).localCheckpoint(eager=True)
    vdelta = spark.createDataFrame(
        [(4, X[5].tolist(), "U"), (4, X[6].tolist(), "U")], "vec_id bigint, embedding array<double>, op string"
    ).localCheckpoint(eager=True)
    before = [_files(d) for d in (idx, nrm, ann)]
    for fold, name in [
        (lambda: index_apply_changes(spark, idx, delta, n_buckets=NB, prepared=True), "doc_id"),
        (lambda: norms_apply_changes(spark, nrm, delta, n_buckets=NB, prepared=True), "doc_id"),
        (lambda: ann_store_apply_changes(spark, ann, vdelta, cents, books, prepared=True), "vec_id"),
    ]:
        with pytest.raises(ValueError, match=f"duplicate {name} values \\[4\\]"):
            fold()
    assert [_files(d) for d in (idx, nrm, ann)] == before


class _FailFirstDelete:
    """A Hadoop FileSystem whose first ``delete`` raises."""

    def __init__(self, fs, failed):
        self._fs, self._failed = fs, failed

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def delete(self, path, recursive):
        if not self._failed:
            self._failed.append(str(path))
            raise OSError("injected delete failure")
        return self._fs.delete(path, recursive)


def _buckets(d, col):
    return sorted(n for n in os.listdir(d) if n.startswith(f"{col}="))


def _rows(spark, d):
    return sorted(tuple(r) for r in spark.read.parquet(d).collect())


def test_emptied_bucket_delete_failure_converges_on_rerun(spark, tmp_path, monkeypatch):
    """The emptied-bucket delete fails once, after the overwrite committed:
    the bucket keeps the rows of the deleted ids. Re-running the same fold
    touches it again and removes it, and each store then equals a
    from-scratch build of the surviving docs."""
    import sycamore_spark.materialize as materialize

    docs = spark.createDataFrame(EDGE_ROWS, "doc_id bigint, text string")
    idx, nrm = _lexical_store(spark, str(tmp_path), docs)
    delta = spark.createDataFrame(
        [(1, None, "D"), (2, None, "D"), (4, None, "D"), (9, "zeta", "I")], "doc_id bigint, text string, op string"
    )
    live = spark.createDataFrame(
        [r for r in EDGE_ROWS if r[0] not in (1, 2, 4)] + [(9, "zeta")], "doc_id bigint, text string"
    )
    fresh_idx, fresh_nrm = _lexical_store(spark, str(tmp_path / "fresh"), live)
    real = materialize._hadoop_fs
    for store_dir, fresh, col, fold in [
        (idx, fresh_idx, "bkt", lambda: index_apply_changes(spark, idx, delta, n_buckets=NB)),
        (nrm, fresh_nrm, "nbkt", lambda: norms_apply_changes(spark, nrm, delta, n_buckets=NB)),
    ]:
        emptied = set(_buckets(store_dir, col)) - set(_buckets(fresh, col))
        assert emptied, col  # the delta empties a bucket
        failed = []

        def failing(s, path, failed=failed):
            fs, hpath = real(s, path)
            return _FailFirstDelete(fs, failed), hpath

        monkeypatch.setattr(materialize, "_hadoop_fs", failing)
        with pytest.raises(OSError, match="injected"):
            fold()
        monkeypatch.setattr(materialize, "_hadoop_fs", real)
        assert failed and set(_buckets(store_dir, col)) > set(_buckets(fresh, col))
        fold()
        assert _buckets(store_dir, col) == _buckets(fresh, col)
        assert _rows(spark, store_dir) == _rows(spark, fresh)


def test_store_read_job_count(spark, tmp_path):
    """A frame of two queries reads in seven jobs; one query reads in six
    (no query-term broadcast) and gets the rows it gets in the frame."""
    docs = spark.createDataFrame(EDGE_ROWS, "doc_id bigint, text string")
    qdf = spark.createDataFrame(QUERIES, "query_id bigint, query string")
    idx, nrm = _lexical_store(spark, str(tmp_path), docs)
    rows, jobs = count_jobs(spark, lambda: bm25_from_index(spark, idx, nrm, qdf, n_buckets=NB, k=3).collect())
    assert jobs == 7 and len(rows) == 5
    one = qdf.filter("query_id = 2")
    alone, jobs = count_jobs(spark, lambda: bm25_from_index(spark, idx, nrm, one, n_buckets=NB, k=3).collect())
    assert jobs == 6 and sorted(alone) == sorted(r for r in rows if r.query_id == 2)


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
