"""Driver-built frames and bounded query collects (functions/local.py) on
the serve path, plus the store-read and NULL-text contracts of the
retrieval folds and scorers.

- ``local_frame`` must hold exactly what ``createDataFrame(list)`` holds
  for every schema the serving operators build, as a LocalRelation.
- ``collect_bounded`` scans its input in ONE job and keeps the
  ``max_queries`` guard.
- The serving operators must not leave a list-built (Python-worker)
  frame in the plan they return."""

import glob
import os

import numpy as np
import pytest
from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import functions as F
from conftest import count_jobs

from sycamore_spark import compat
from sycamore_spark.functions.local import collect_bounded, local_frame
from sycamore_spark.operators.retrieval import (
    bm25_from_index,
    bm25_scores,
    bm25_scores_multi,
    bucketed_postings,
    doc_norms,
    index_apply_changes,
    norms_apply_changes,
    qlm_scores,
)
from sycamore_spark.operators.similarity import (
    brute_force_topk,
    ivf_pq_encode,
    ivf_pq_refine_multi,
    ivf_pq_topk_multi,
    ivf_pq_train_arrays,
)

NB = 8

SCHEMAS = [
    ("a bigint, b int, c string", [(1, 2, "x"), (None, None, None), (-(2**62), 7, "")]),
    ("a bigint, v array<bigint>", [(1, [1, None, 2**40]), (2, None), (3, [])]),
    ("a int, v array<double>", [(1, [0.1, None, -1e300]), (2, None), (3, [float("nan")])]),
    ("s string, v array<double>", [("q", [1.0, 2.0])]),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _same(a, b):
    """Row lists equal, NaN == NaN."""
    def norm(v):
        if isinstance(v, float) and v != v:
            return "nan"
        if isinstance(v, list):
            return [norm(x) for x in v]
        return v

    return [[norm(x) for x in r] for r in a] == [[norm(x) for x in r] for r in b]


@pytest.mark.parametrize("ddl,rows", SCHEMAS)
def test_local_frame_round_trips_like_create_dataframe(spark, ddl, rows):
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert _same(got.collect(), want.collect())
    assert "LocalRelation" in _plan(got) and "LogicalRDD" not in _plan(got)
    empty = local_frame(spark, [], ddl)
    assert empty.schema == spark.createDataFrame([], ddl).schema
    assert empty.collect() == []


def test_local_frame_falls_back_without_arrow_path(spark):
    compat._OVERRIDES["arrow_local_frame"] = False
    try:
        df = local_frame(spark, [(1, "x")], "a bigint, b string")
        assert df.collect() == spark.createDataFrame([(1, "x")], "a bigint, b string").collect()
        assert "LogicalRDD" in _plan(df)
    finally:
        compat._OVERRIDES.clear()
    assert compat.has("arrow_local_frame")


def test_collect_bounded_one_job_in_frame_order(spark):
    # 3 rows over 8 partitions, the first one empty: an incremental
    # CollectLimit scans it alone first, then needs a second job
    rdd = spark.sparkContext.parallelize([(i, str(i)) for i in range(3)], 8)
    df = spark.createDataFrame(rdd, "a bigint, b string")
    want = df.collect()
    _, limit_jobs = count_jobs(spark, lambda: df.limit(11).collect())
    rows, jobs = count_jobs(spark, lambda: collect_bounded(df, 10, "too many"))
    assert rows == want and jobs == 1 and limit_jobs > 1
    with pytest.raises(ValueError, match="too many"):
        collect_bounded(df, 2, "too many")
    assert collect_bounded(df, 3, "too many") == want


# -- serving operators: no list-built frame in the returned plan -------------


def _store(spark, tmp_path):
    docs = spark.range(1, 41).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("alpha"), F.concat(F.lit("t"), (F.col("id") % 7).cast("string")),
                    F.concat(F.lit("u"), (F.col("id") % 3).cast("string"))).alias("text"),
    )
    idx, nrm = str(tmp_path / "idx"), str(tmp_path / "nrm")
    bucketed_postings(docs, n_buckets=NB).write.partitionBy("bkt").parquet(idx)
    doc_norms(docs, n_buckets=NB).write.partitionBy("nbkt").parquet(nrm)
    return docs, idx, nrm


def test_bm25_from_index_plan_has_no_python_rdd(spark, tmp_path):
    docs, idx, nrm = _store(spark, tmp_path)
    qdf = spark.createDataFrame([(1, "alpha t3"), (2, "u1 t5 t5")], "query_id bigint, query string")
    out = bm25_from_index(spark, idx, nrm, qdf, n_buckets=NB, k=5)
    plan = _plan(out)
    assert "LogicalRDD" not in plan and "LocalRelation" in plan
    got = {tuple(r) for r in out.select("query_id", "doc_id", "bm25_micros").collect()}
    assert got == {tuple(r) for r in bm25_scores_multi(docs, qdf, k=5).collect()}


def test_bm25_from_index_max_queries_guard(spark, tmp_path):
    _, idx, nrm = _store(spark, tmp_path)
    qdf = spark.createDataFrame([(i, "alpha") for i in range(4)], "query_id bigint, query string")
    with pytest.raises(ValueError, match="max_queries=3"):
        bm25_from_index(spark, idx, nrm, qdf, n_buckets=NB, max_queries=3)
    assert bm25_from_index(spark, idx, nrm, qdf, n_buckets=NB, max_queries=4).count() == 4 * 40


def _vectors(spark):
    rng = np.random.RandomState(3)
    X = rng.rand(60, 8)
    cents, books = ivf_pq_train_arrays(X, ncells=4, m=2, subk=4, seed=1)
    corpus = local_frame(
        spark, [(i, X[i].tolist()) for i in range(len(X))], "vec_id bigint, embedding array<double>"
    )
    enc = ivf_pq_encode(corpus, cents, books)
    qdf = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(3)], "query_id bigint, embedding array<double>"
    )
    return corpus, enc, cents, books, qdf


def test_vector_serving_plans_have_no_python_rdd(spark):
    corpus, enc, cents, books, qdf = _vectors(spark)
    for name, op in [
        ("ivf_pq_topk_multi", lambda: ivf_pq_topk_multi(qdf, enc, cents, books, k=3)),
        ("ivf_pq_refine_multi", lambda: ivf_pq_refine_multi(qdf, enc, cents, books, k=3)),
        ("brute_force_topk", lambda: brute_force_topk(
            qdf.withColumnRenamed("query_id", "vec_id"), corpus, k=3)),
    ]:
        out, jobs = count_jobs(spark, op)
        assert jobs == 1, name  # the bounded query collect
        assert "LogicalRDD" not in _plan(out), name
        assert out.count() == 9, name
    empty = brute_force_topk(qdf.limit(0).withColumnRenamed("query_id", "vec_id"), corpus, k=3)
    assert empty.collect() == [] and "LogicalRDD" not in _plan(empty)


def test_vector_serving_guards_still_raise(spark):
    corpus, enc, cents, books, qdf = _vectors(spark)
    for op in (ivf_pq_topk_multi, ivf_pq_refine_multi):
        with pytest.raises(ValueError, match="max_queries=2"):
            op(qdf, enc, cents, books, max_queries=2)
        dup = qdf.withColumn("query_id", F.lit(7).cast("bigint"))
        with pytest.raises(ValueError, match="duplicate query id"):
            op(dup, enc, cents, books)
    with pytest.raises(ValueError, match="max_queries=2"):
        brute_force_topk(qdf.withColumnRenamed("query_id", "vec_id"), corpus, k=1, max_queries=2)


# -- store folds: only a missing store is an empty store ---------------------


def test_fold_raises_when_populated_store_cannot_be_read(spark, tmp_path):
    """Bucket dirs are present but Spark cannot infer a schema from them
    (their data files are hidden). That is a broken store, not an empty
    one: the fold must raise rather than rebuild the touched buckets from
    the delta alone and overwrite the postings they held."""
    _, idx, nrm = _store(spark, tmp_path)
    hidden = 0
    for root, bucket in ((idx, "bkt"), (nrm, "nbkt")):
        for f in glob.glob(f"{root}/{bucket}=*/*.parquet"):
            os.rename(f, os.path.join(os.path.dirname(f), "_" + os.path.basename(f)))
            hidden += 1
    assert hidden
    delta = spark.createDataFrame([(1, "alpha beta", "U")], "doc_id bigint, text string, op string")
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        index_apply_changes(spark, idx, delta, n_buckets=NB)
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        norms_apply_changes(spark, nrm, delta, n_buckets=NB)
    # nothing was rewritten: every hidden file is still in place
    assert len(glob.glob(f"{idx}/bkt=*/_*.parquet") + glob.glob(f"{nrm}/nbkt=*/_*.parquet")) == hidden


def test_fold_into_missing_store_builds_from_delta(spark, tmp_path):
    idx, nrm = str(tmp_path / "new_idx"), str(tmp_path / "new_nrm")
    delta = spark.createDataFrame([(1, "alpha beta", "I")], "doc_id bigint, text string, op string")
    assert index_apply_changes(spark, idx, delta, n_buckets=NB) >= 1
    assert norms_apply_changes(spark, nrm, delta, n_buckets=NB) == 1
    assert {r.term for r in spark.read.parquet(idx).collect()} == {"alpha", "beta"}
    assert [(r.doc_id, r.dl) for r in spark.read.parquet(nrm).collect()] == [(1, 2)]


# -- NULL text scores the same with ANSI on and off --------------------------


def test_null_text_scores_independent_of_ansi(spark):
    rows = [(1, "alpha beta"), (2, None), (3, "beta gamma gamma"), (4, None), (5, "alpha")]
    with_nulls = spark.createDataFrame(rows, "doc_id bigint, text string")
    clean = with_nulls.filter(F.col("text").isNotNull())
    qdf = spark.createDataFrame([(1, "alpha gamma")], "query_id bigint, query string")

    def scores(docs):
        return (
            sorted(tuple(r) for r in bm25_scores(docs, ["alpha", "gamma"]).collect()),
            sorted(tuple(r) for r in bm25_scores_multi(docs, qdf).collect()),
            sorted(tuple(r) for r in qlm_scores(docs, qdf).collect()),
        )

    prior = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        want = scores(clean)
        assert scores(with_nulls) == want
        spark.conf.set("spark.sql.ansi.enabled", "false")
        assert scores(with_nulls) == want
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
