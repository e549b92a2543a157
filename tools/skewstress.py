"""Hot-bucket skew stress for the maintained-store CDC folds.

At 100 TB the realistic worst case for `index_apply_changes` /
`ann_store_apply_changes` is a zipf-skewed delta where every edit lands in
ONE bucket/cell: the fold's final `repartition(len(touched), bucket)` gives
each touched partition a single task, so a lone hot bucket serializes its
rebuild. This measures fold wall-time for a uniform delta (edits spread
over all buckets) vs a hot delta (same row count, all postings/vectors in
one bucket) on the derived sf1eq corpus (tools/scale100.py), and prints the
hot/uniform ratio. PERF.md records the adjudicated numbers.

Usage: python tools/skewstress.py  (builds /tmp/sf1eq if missing)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

import sycamore_spark as ss  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from sycamore_spark.functions.partitioning import lineage_cut  # noqa: E402

N_BUCKETS = 64
DELTA_ROWS = 2000
TOKENS_PER_DOC = 20


def tokens_for_bucket(spark, bucket: int, n: int) -> list[str]:
    """n synthetic tokens whose xxhash64 lands in `bucket` (computed with
    the same Spark expression the index uses)."""
    cand = spark.range(0, 200_000).select(
        F.concat(F.lit("tok"), F.col("id")).alias("term")
    )
    hits = (
        cand.withColumn("bkt", F.pmod(F.xxhash64("term"), F.lit(N_BUCKETS)).cast("int"))
        .filter(F.col("bkt") == bucket)
        .limit(n)
        .collect()
    )
    assert len(hits) == n, f"only {len(hits)} tokens hash to bucket {bucket}"
    return [r.term for r in hits]


def main() -> None:
    from tools.scale100 import OUT, build_corpus

    build_corpus()
    spark = ss.init(app_name="sycamore-spark-skewstress")
    spark.sparkContext.setLogLevel("ERROR")

    from sycamore_spark.operators.retrieval import bucketed_postings, index_apply_changes

    docs = spark.read.parquet(f"{OUT}/documents.parquet").select("doc_id", "text")
    results: dict[str, dict] = {}

    def build_index(path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        bucketed_postings(docs, n_buckets=N_BUCKETS).write.mode(
            "overwrite"
        ).partitionBy("bkt").parquet(path)

    # uniform delta: DELTA_ROWS inserts with corpus-like diverse texts —
    # postings spread over (nearly) every bucket
    uni_delta = (
        docs.orderBy("doc_id")
        .limit(DELTA_ROWS)
        .select(
            (F.col("doc_id") + 900_000_000).alias("doc_id"),
            F.concat(F.lit("fresh insert "), F.col("text")).alias("text"),
            F.lit("I").alias("op"),
        )
    )

    # hot delta: same row count, every token hashes to ONE bucket (texts
    # synthesized driver-side — 2000 rows; a wide literal array would blow
    # janino's 64 KB codegen limit)
    hot_toks = tokens_for_bucket(spark, bucket=7, n=TOKENS_PER_DOC * 50)
    hot_rows = [
        (
            910_000_000 + i,
            " ".join(
                hot_toks[(i * (j + 13) + j) % len(hot_toks)]
                for j in range(TOKENS_PER_DOC)
            ),
            "I",
        )
        for i in range(DELTA_ROWS)
    ]
    hot_delta = spark.createDataFrame(hot_rows, "doc_id long, text string, op string")

    for label, delta in (("uniform", uni_delta), ("hot", hot_delta)):
        idx = f"/tmp/skewstress-idx-{label}"
        build_index(idx)
        d = lineage_cut(delta)
        t0 = time.perf_counter()
        touched = index_apply_changes(spark, idx, d, n_buckets=N_BUCKETS)
        sec = round(time.perf_counter() - t0, 3)
        nrows = spark.read.parquet(idx).count()
        results[label] = {"sec": sec, "touched_buckets": touched, "index_rows": nrows}
        print(f"index fold {label}: {sec}s touched={touched}", flush=True)

    ratio = round(results["hot"]["sec"] / results["uniform"]["sec"], 2)
    ann_section(spark, results)
    out = {
        "n_buckets": N_BUCKETS,
        "delta_rows": DELTA_ROWS,
        "results": results,
        "hot_over_uniform": ratio,
        "ann_hot_over_uniform": results.pop("ann_hot_over_uniform"),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    with open("/tmp/skewstress_out.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))




def ann_section(spark, results: dict) -> None:
    """Hot-CELL A/B for ann_store_apply_changes: uniform delta (existing
    vectors re-keyed -> cells spread as the corpus spreads) vs hot delta
    (every vector jittered around ONE coarse centroid -> one touched
    cell)."""
    import numpy as np
    from tools.scale100 import OUT

    from sycamore_spark.operators.similarity import (
        ann_store_apply_changes, ivf_pq_encode, ivf_pq_train,
    )

    emb = spark.read.parquet(f"{OUT}/embeddings.parquet")
    cents, books = ivf_pq_train(emb, ncells=16, sample_by="vec_id")

    def build_store(path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        ivf_pq_encode(emb, cents, books).drop("embedding").write.mode(
            "overwrite"
        ).partitionBy("cell_id").parquet(path)

    uni_delta = (
        emb.orderBy("vec_id").limit(DELTA_ROWS)
        .select(
            (F.col("vec_id") + 900_000_000).alias("vec_id"),
            "embedding", "label", F.lit("U").alias("op"),
        )
    )
    c0 = np.array(cents[0], dtype=float) / 1024.0
    rng = np.random.RandomState(11)
    hot_rows = [
        (
            910_000_000 + i,
            (c0 + rng.normal(0, 1e-4, len(c0))).astype(float).tolist(),
            int(0),
            "U",
        )
        for i in range(DELTA_ROWS)
    ]
    hot_delta = spark.createDataFrame(
        hot_rows, "vec_id long, embedding array<float>, label int, op string"
    )

    for label, delta in (("uniform", uni_delta), ("hot", hot_delta)):
        store = f"/tmp/skewstress-ann-{label}"
        build_store(store)
        d = lineage_cut(delta)
        t0 = time.perf_counter()
        touched = ann_store_apply_changes(spark, store, d, cents, books)
        sec = round(time.perf_counter() - t0, 3)
        nrows = spark.read.parquet(store).count()
        results[f"ann_{label}"] = {
            "sec": sec, "touched_cells": touched, "store_rows": nrows,
        }
        print(f"ann fold {label}: {sec}s touched={touched}", flush=True)
    results["ann_hot_over_uniform"] = round(
        results["ann_hot"]["sec"] / results["ann_uniform"]["sec"], 2
    )


if __name__ == "__main__":
    main()
