"""IVF-PQ composition (operators/similarity.py ivf_pq_train/encode/topk):
integer-exact cell assignment + residual encode vs a per-row numpy replica,
probed-cell restriction, null handling, and recall@k against brute force."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from conftest import count_jobs

from sycamore_spark.operators.similarity import (
    brute_force_topk,
    ivf_pq_encode,
    ivf_pq_topk,
    ivf_pq_train,
    ivf_pq_train_arrays,
)


def clustered(seed=9, ncl=6, per=40, d=16, noise=0.02):
    """Well-separated clusters so IVF routing is meaningful and recall@k
    against brute force is high by construction."""
    rng = np.random.RandomState(seed)
    centers = rng.rand(ncl, d)
    X = np.vstack([c + rng.randn(per, d) * noise for c in centers])
    return X


@pytest.fixture(scope="module")
def vec_df(spark):
    X = clustered()
    return spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id bigint, embedding array<float>",
    ), X


def ref_encode(x, cents, books, scale=1024.0):
    xq = np.floor(np.asarray(x, dtype=float) * scale + 0.5).astype(np.int64)
    C = np.array(cents, dtype=np.int64)
    cell = int(((C - xq) ** 2).sum(axis=1).argmin())
    r = xq - C[cell]
    sub = len(books[0][0])
    codes = []
    for s, b in enumerate(books):
        B = np.array(b, dtype=np.int64)
        codes.append(int(((B - r[s * sub:(s + 1) * sub]) ** 2).sum(axis=1).argmin()))
    return cell, codes


def test_ivf_pq_encode_matches_replica(vec_df):
    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=8, seed=5)
    assert len(cents) == 6 and len(books) == 4 and len(books[0]) == 8
    got = {r.vec_id: (r.cell_id, list(r.pq_codes)) for r in ivf_pq_encode(df, cents, books).collect()}
    for i in range(len(X)):
        cell, codes = ref_encode(X[i], cents, books)
        assert got[i] == (cell, codes)


def test_ivf_pq_topk_probes_and_scores_exactly(vec_df):
    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=8, seed=5)
    enc = ivf_pq_encode(df, cents, books)
    q = X[7]
    top = ivf_pq_topk(q, enc, cents, books, k=5, nprobe=2).collect()
    # replica: probed cells by (dist, cell) then per-cell residual LUT sums
    qq = np.floor(np.asarray(q, dtype=float) * 1024.0 + 0.5).astype(np.int64)
    C = np.array(cents, dtype=np.int64)
    dc = ((C - qq) ** 2).sum(axis=1)
    probed = set(int(c) for c in np.argsort(dc, kind="stable")[:2])
    sub = 4
    scores = {}
    for i in range(len(X)):
        cell, codes = ref_encode(X[i], cents, books)
        if cell not in probed:
            continue
        r = qq - C[cell]
        s = 0
        for j, b in enumerate(books):
            B = np.array(b, dtype=np.int64)
            lut = ((B - r[j * sub:(j + 1) * sub]) ** 2).sum(axis=1)
            s += int(lut[codes[j]])
        scores[i] = s
    want = sorted(scores, key=lambda i: (scores[i], i))[:5]
    assert [r.vec_id for r in top] == want
    assert [r.adc_dist for r in top] == [scores[i] for i in want]


def test_ivf_pq_recall_vs_brute_force(vec_df, spark):
    """The VERDICT-r7 acceptance bar: recall@k of the composed IVF-PQ path
    against exact brute-force cosine on clustered data."""
    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=16, seed=5)
    enc = ivf_pq_encode(df, cents, books).persist()
    k = 10
    hits = total = 0
    queries = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in (0, 45, 101, 166, 220)],
        "vec_id bigint, embedding array<float>",
    )
    # ADC approximates L2 distance, so grade against the L2 brute force
    exact = brute_force_topk(queries, df, k=k, metric="l2").collect()
    exact_by_q = {}
    for r in exact:
        exact_by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    for qi, want in exact_by_q.items():
        got = {r.vec_id for r in ivf_pq_topk(X[qi], enc, cents, books, k=k, nprobe=2).collect()}
        hits += len(got & want)
        total += len(want)
    enc.unpersist()
    assert total == 5 * k
    assert hits / total >= 0.8, f"recall@{k} = {hits / total:.2f}"


def test_ivf_pq_null_embeddings_excluded(spark):
    X = clustered(per=10)
    cents, books = ivf_pq_train_arrays(X, ncells=6, m=4, subk=8, seed=5)
    rows = [(i, X[i].tolist()) for i in range(20)] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    enc = ivf_pq_encode(df, cents, books)
    nulls = enc.filter(F.col("vec_id") == 99).collect()
    assert nulls[0].cell_id is None and nulls[0].pq_codes is None
    top = ivf_pq_topk(X[0], enc, cents, books, k=30, nprobe=6).collect()
    assert 99 not in {r.vec_id for r in top}


def test_ivf_pq_dim_guard():
    with pytest.raises(ValueError):
        ivf_pq_train_arrays(clustered(d=16), m=5)


def test_ivf_pq_multi_matches_single(vec_df, spark):
    """Batch search returns exactly the per-query single-query results."""
    from sycamore_spark.operators.similarity import ivf_pq_topk_multi

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=8, seed=5)
    enc = ivf_pq_encode(df, cents, books).persist()
    qids = (0, 77, 140)
    qdf = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in qids],
        "query_id bigint, embedding array<double>",
    )
    got = ivf_pq_topk_multi(qdf, enc, cents, books, k=5, nprobe=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.adc_dist))
    for qi in qids:
        single = ivf_pq_topk(X[qi], enc, cents, books, k=5, nprobe=2).collect()
        want = [(j + 1, r.vec_id, r.adc_dist) for j, r in enumerate(single)]
        assert sorted(by_q[qi]) == want, qi
    enc.unpersist()


def test_ivf_pq_multi_query_guard(vec_df, spark):
    from sycamore_spark.operators.similarity import ivf_pq_topk_multi

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=8, seed=5)
    enc = ivf_pq_encode(df, cents, books)
    qdf = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(5)],
        "query_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError):
        ivf_pq_topk_multi(qdf, enc, cents, books, max_queries=3)


def test_ivf_pq_refine_improves_recall(vec_df, spark):
    """Exact re-ranking of the ADC pool must match the numpy replica and
    never lose recall vs plain ADC at the same probes."""
    from sycamore_spark.operators.similarity import ivf_pq_refine_topk

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=8, seed=5)
    enc = ivf_pq_encode(df, cents, books).persist()
    k = 10
    q = X[33]
    got = ivf_pq_refine_topk(q, enc, cents, books, k=k, refine=4, nprobe=2).collect()
    # numpy replica: ADC pool of refine*k inside probed cells, exact re-rank
    qq = np.floor(np.asarray(q, dtype=float) * 1024.0 + 0.5).astype(np.int64)
    C = np.array(cents, dtype=np.int64)
    dc = ((C - qq) ** 2).sum(axis=1)
    probed = set(int(c) for c in np.argsort(dc, kind="stable")[:2])
    sub = 4
    adc = {}
    for i in range(len(X)):
        cell, codes = ref_encode(X[i], cents, books)
        if cell not in probed:
            continue
        r = qq - C[cell]
        adc[i] = sum(
            int(((np.array(books[j], dtype=np.int64) - r[j * sub:(j + 1) * sub]) ** 2)
                .sum(axis=1)[codes[j]])
            for j in range(len(books))
        )
    pool = sorted(adc, key=lambda i: (adc[i], i))[: 4 * k]
    exact = {
        i: int(((np.floor(np.asarray(X[i], dtype=float) * 1024.0 + 0.5).astype(np.int64) - qq) ** 2).sum())
        for i in pool
    }
    want = sorted(exact, key=lambda i: (exact[i], i))[:k]
    assert [r.vec_id for r in got] == want
    assert [r.exact_dist for r in got] == [exact[i] for i in want]
    # recall vs exact L2 over the probed cells: refined >= plain ADC
    true_top = sorted(
        ((int(((np.floor(np.asarray(X[i], dtype=float) * 1024.0 + 0.5).astype(np.int64) - qq) ** 2).sum()), i)
         for i in adc), key=lambda t: t)[:k]
    true_ids = {i for _, i in true_top}
    plain_ids = set(sorted(adc, key=lambda i: (adc[i], i))[:k])
    refined_ids = {r.vec_id for r in got}
    assert len(refined_ids & true_ids) >= len(plain_ids & true_ids)
    enc.unpersist()


def test_ann_recall_at_k(spark):
    """Per-query recall + integer-ratio overall row; zero-hit queries get
    recall 0.0, not a dropped row."""
    from sycamore_spark.evaluation import ann_recall_at_k

    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 99)], "query_id bigint, vec_id bigint"
    )
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id bigint, vec_id bigint",
    )
    rows = {r.query_id: r for r in ann_recall_at_k(approx, exact).collect()}
    assert rows[1].n_hits == 2 and rows[1].recall == 1.0
    assert rows[2].n_hits == 1 and rows[2].recall == 0.5
    assert rows[3].n_hits == 0 and rows[3].recall == 0.0
    assert rows[-1].n_hits == 3 and rows[-1].n_exact == 5 and rows[-1].recall == 0.6


def test_ivf_pq_topk_multi_ragged_codebooks(vec_df, spark):
    """r8 ADVICE: the flat-LUT block offset must be CUMULATIVE — with
    per-subspace codebooks of different lengths (accepted by the API) the
    old s*subk offset indexed the wrong LUT block and returned silently
    wrong distances. Batch search must match the ragged-safe single-query
    path exactly."""
    from sycamore_spark.operators.similarity import ivf_pq_topk_multi

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=4, m=4, subk=8, seed=5)
    # ragged subk: 5/8/3/8 codewords per subspace
    books = [books[0][:5], books[1], books[2][:3], books[3]]
    enc = ivf_pq_encode(df, cents, books).persist()
    qids = (3, 77, 150)
    queries = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in qids],
        "query_id bigint, embedding array<float>",
    )
    got = {}
    for r in ivf_pq_topk_multi(queries, enc, cents, books, k=5, nprobe=2).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.adc_dist))
    for qi in qids:
        single = ivf_pq_topk(X[qi], enc, cents, books, k=5, nprobe=2).collect()
        want = [(j + 1, r.vec_id, r.adc_dist) for j, r in enumerate(single)]
        assert sorted(got[qi]) == want
    enc.unpersist()


def test_ivf_pq_topk_multi_prunes_partitioned_store(vec_df, spark, tmp_path):
    """The batch serving path must prune the cell-partitioned store
    STATICALLY: the probed-cell union is known driver-side, so the scan's
    PartitionFilters names cell_id — a broadcast join alone would list
    every cell directory and drop rows only after the scan."""
    from sycamore_spark.operators.similarity import ivf_pq_topk_multi

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=16, seed=5)
    root = str(tmp_path / "store")
    ivf_pq_encode(df, cents, books).write.partitionBy("cell_id").parquet(root)
    stored = spark.read.parquet(root)
    queries = spark.createDataFrame(
        [(1, X[7].tolist()), (2, X[150].tolist())],
        "query_id bigint, embedding array<float>",
    )
    out = ivf_pq_topk_multi(queries, stored, cents, books, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell_id" in plan.split("PartitionFilters", 1)[1][:200]
    # and the pruned result still matches the in-memory path
    mem = ivf_pq_topk_multi(queries, ivf_pq_encode(df, cents, books),
                            cents, books, k=5, nprobe=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, mem.collect()))


def test_hash_sampled_training_beats_prefix_on_sorted_corpus(spark):
    """r8 verdict #4: LIMIT(n) training reads the FIRST parquet files; on a
    corpus sorted by source, prefix-trained codebooks only ever see the
    first sources' clusters and recall collapses for the rest. The
    sample_by option (ORDER BY xxhash64(key) LIMIT n ->
    TakeOrderedAndProject, corpus-spread, deterministic) must recover it."""
    from sycamore_spark.operators.similarity import ivf_pq_topk_multi

    X = clustered(seed=3, ncl=6, per=40, d=16, noise=0.02)  # sorted by cluster
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id bigint, embedding array<float>",
    ).coalesce(1)  # one file/partition => limit() really is a prefix
    qids = (170, 185, 200, 215, 230)  # queries from the LAST two clusters
    queries = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in qids],
        "query_id bigint, embedding array<float>",
    )
    exact = brute_force_topk(
        queries, df, k=10, metric="l2", query_id="query_id"
    ).collect()
    want = {}
    for r in exact:
        want.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(sample_by):
        cents, books = ivf_pq_train(
            df, ncells=6, m=16, subk=16, seed=5, sample=120, sample_by=sample_by
        )
        enc = ivf_pq_encode(df, cents, books)
        got = {}
        for r in ivf_pq_topk_multi(queries, enc, cents, books, k=10, nprobe=2).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        hits = sum(len(got.get(q, set()) & want[q]) for q in want)
        return hits / sum(len(v) for v in want.values())

    r_prefix = recall(None)
    r_hash = recall("vec_id")
    # prefix sample = clusters 0-2 only: residual codebooks never see the
    # query region's geometry (measured: prefix 0.44, hash 0.94)
    assert r_hash >= r_prefix + 0.3, f"prefix={r_prefix:.2f} hash={r_hash:.2f}"
    assert r_hash >= 0.85


def test_prefix_training_on_larger_corpus_warns(spark):
    """r9 verdict #3: the builder's own test above proves prefix sampling
    can halve recall, yet sample_by=None stayed a silent default. A user
    must not silently train skewed codebooks: when the corpus is estimated
    (plan stats, no job) to exceed the sample size, _training_rows warns
    to pass sample_by. Spread samples and big-enough prefixes stay silent.
    (createDataFrame frames carry the unknown-stats sentinel and correctly
    stay silent; a Range-based frame has real plan stats.)"""
    import warnings

    from sycamore_spark.operators.similarity import _training_rows

    df = spark.range(240).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 16), i -> CAST(i AS FLOAT) / 16) AS embedding",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = _training_rows(df, "embedding", 10, None)
    assert len(rows) == 10
    assert any("sample_by" in str(w.message) for w in caught)
    # hash-spread sampling, or a prefix covering the whole corpus: silent
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _training_rows(df, "embedding", 10, "vec_id")
        _training_rows(df, "embedding", 100_000, None)
    assert not [w for w in caught if "sample_by" in str(w.message)]


def test_ivf_pq_prefilter_is_filter_then_rank(vec_df, spark):
    """Filtered vector search must rank over QUALIFYING rows (faiss
    IDSelector semantics), not drop non-qualifying rows from an
    unfiltered top-k — the latter returns < k rows and misses qualifying
    neighbors ranked below the unfiltered cut."""
    from pyspark.sql import functions as SF

    from sycamore_spark.operators.similarity import ivf_pq_topk_multi

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=16, seed=5)
    enc = ivf_pq_encode(
        df.withColumn("label", (SF.col("vec_id") % 4).cast("int")), cents, books
    ).persist()
    q = X[7]
    k = 8
    filt = ivf_pq_topk(q, enc, cents, books, k=k, nprobe=3,
                       prefilter=SF.col("label") == 2).collect()
    # every hit qualifies, and we get a full k (plenty of label-2 rows)
    assert len(filt) == k and all(r.vec_id % 4 == 2 for r in filt)
    # replica: ADC over the probed cells restricted to label==2
    wide = {r.vec_id: r.adc_dist
            for r in ivf_pq_topk(q, enc, cents, books, k=1000, nprobe=3).collect()}
    want = sorted((d, i) for i, d in wide.items() if i % 4 == 2)[:k]
    assert [(r.adc_dist, r.vec_id) for r in filt] == want
    # post-filtering the unfiltered top-k would have returned FEWER rows
    post = [i for _, i in sorted((d, i) for i, d in wide.items())[:k] if i % 4 == 2]
    assert len(post) < k
    # batch path honors the same prefilter
    queries = spark.createDataFrame(
        [(1, X[7].tolist())], "query_id bigint, embedding array<float>"
    )
    multi = ivf_pq_topk_multi(queries, enc, cents, books, k=k, nprobe=6,
                              prefilter=SF.col("label") == 2).collect()
    assert all(r.vec_id % 4 == 2 for r in multi) and len(multi) == k
    enc.unpersist()


def test_ivf_pq_refine_multi_matches_single(vec_df, spark):
    """Batch exact re-ranking must equal the single-query refine path per
    query (same ADC pool, same integer-L2 re-rank), with duplicate qids
    rejected like the other batch entry points."""
    import pytest

    from sycamore_spark.operators.similarity import (
        ivf_pq_refine_multi, ivf_pq_refine_topk,
    )

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=16, seed=5)
    enc = ivf_pq_encode(df, cents, books).persist()
    qids = (7, 99, 201)
    queries = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in qids],
        "query_id bigint, embedding array<float>",
    )
    got = {}
    for r in ivf_pq_refine_multi(
        queries, enc, cents, books, k=5, refine=3, nprobe=2
    ).collect():
        got.setdefault(r.query_id, []).append(
            (r.rank, r.vec_id, r.adc_dist, r.exact_dist)
        )
    for qi in qids:
        single = ivf_pq_refine_topk(
            X[qi], enc, cents, books, k=5, refine=3, nprobe=2
        ).collect()
        want = [(j + 1, r.vec_id, r.adc_dist, r.exact_dist)
                for j, r in enumerate(single)]
        assert sorted(got[qi]) == want, f"query {qi}"
    dup = spark.createDataFrame(
        [(1, X[0].tolist()), (1, X[1].tolist())],
        "query_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="duplicate query id"):
        ivf_pq_refine_multi(dup, enc, cents, books)
    enc.unpersist()


def test_ann_store_apply_changes(spark, tmp_path):
    """Upsert/delete into the cell-partitioned store: an update MOVES its
    row to the new cell, a delete that empties a cell removes the
    directory, an insert lands in its cell, and an untouched cell's files
    are not rewritten."""
    import glob
    import os

    from sycamore_spark.operators.similarity import (
        ann_store_apply_changes, ivf_pq_encode,
    )

    cents = [[0, 0], [1000, 1000], [2000, 2000], [3000, 3000]]
    books = [[[0], [500]], [[0], [500]]]
    rows = [(1, [0.0, 0.0]), (2, [0.97, 0.97]), (3, [0.98, 0.99]),
            (4, [1.95, 1.95]), (6, [2.93, 2.93])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    root = str(tmp_path / "store")
    ivf_pq_encode(df, cents, books).select("vec_id", "pq_codes", "cell_id") \
        .write.partitionBy("cell_id").parquet(root)
    mtime_before = {f: os.path.getmtime(f) for f in glob.glob(f"{root}/cell_id=3/*.parquet")}
    changes = spark.createDataFrame(
        [(1, None, "D"),                    # empties cell 0 -> dir removed
         (2, [1.96, 1.94], "U"),            # moves cell 1 -> cell 2
         (5, [0.96, 0.99], "I")],           # new row into cell 1
        "vec_id bigint, embedding array<double>, op string",
    )
    n = ann_store_apply_changes(spark, root, changes, cents, books)
    assert n == 3  # cells 0 (delete), 1 (old+insert), 2 (move target)
    got = {(r.vec_id, r.cell_id) for r in spark.read.parquet(root).collect()}
    assert got == {(3, 1), (5, 1), (2, 2), (4, 2), (6, 3)}
    assert not glob.glob(f"{root}/cell_id=0")  # emptied dir removed
    after = {f: os.path.getmtime(f) for f in glob.glob(f"{root}/cell_id=3/*.parquet")}
    assert after == mtime_before  # untouched cell not rewritten
    # moved/inserted rows carry the codes a fresh encode would give
    want = {
        (r.vec_id, tuple(r.pq_codes)) for r in ivf_pq_encode(
            spark.createDataFrame(
                [(2, [1.96, 1.94]), (5, [0.96, 0.99])],
                "vec_id bigint, embedding array<double>",
            ), cents, books).collect()
    }
    stored = {(r.vec_id, tuple(r.pq_codes))
              for r in spark.read.parquet(root).filter("vec_id in (2, 5)").collect()}
    assert stored == want


def test_ann_store_apply_changes_rejects_duplicate_ids(spark, tmp_path):
    """r9 ADVICE: a delta carrying the same id twice (e.g. two U rows)
    anti-joins the old row once but would union BOTH encoded rows,
    silently duplicating vectors in the store — reject loudly, store
    untouched (multi-event feeds collapse to a last-writer row first)."""
    import pytest

    from sycamore_spark.operators.similarity import (
        ann_store_apply_changes, ivf_pq_encode,
    )

    cents = [[0, 0], [1000, 1000]]
    books = [[[0], [500]], [[0], [500]]]
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.97, 0.97])],
        "vec_id bigint, embedding array<double>",
    )
    root = str(tmp_path / "dupstore")
    ivf_pq_encode(df, cents, books).select("vec_id", "pq_codes", "cell_id") \
        .write.partitionBy("cell_id").parquet(root)
    changes = spark.createDataFrame(
        [(2, [0.1, 0.1], "U"), (2, [0.9, 0.9], "U")],
        "vec_id bigint, embedding array<double>, op string",
    )
    with pytest.raises(ValueError, match="duplicate vec_id"):
        ann_store_apply_changes(spark, root, changes, cents, books)
    assert spark.read.parquet(root).count() == 2  # store intact


def test_check_cell_balance_warns_on_hub_cell(spark):
    """A hub cell (skewed corpus mass in one coarse centroid) makes
    nprobe scans uneven — the profiler must say so (r8 verdict ask #6),
    and stay silent on a balanced store."""
    import warnings

    from sycamore_spark.operators.similarity import check_cell_balance

    # 4 cells, one holding 85% of rows: max/mean = 0.85*4 = 3.4
    skewed = spark.range(1000).selectExpr(
        "id AS vec_id", "CAST(CASE WHEN id < 850 THEN 0 ELSE id % 3 + 1 END AS INT) AS cell_id"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ratio = check_cell_balance(skewed, warn_ratio=3.0)
    assert 3.3 < ratio < 3.5
    assert any("cell skew" in str(w.message) for w in caught)
    balanced = spark.range(1000).selectExpr(
        "id AS vec_id", "CAST(id % 4 AS INT) AS cell_id"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ratio = check_cell_balance(balanced, warn_ratio=3.0)
    assert ratio == 1.0
    assert not [w for w in caught if "cell skew" in str(w.message)]


def test_pq_mixed_subvector_dims_raise(vec_df):
    """Codebooks with MIXED subvector dims would slice residuals at the
    wrong spans — every encode/search path fails loudly instead."""
    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=4, m=4, subk=4, seed=5)
    bad = [books[0], [list(cw)[:2] for cw in books[1]], books[2], books[3]]
    with pytest.raises(ValueError, match="subvector dim"):
        ivf_pq_encode(df, cents, bad)


def test_ann_recall_at_k_strict_validations(spark):
    """r8 ADVICE: approx-only queries must not vanish silently, and an
    overall_id colliding with a real query id must not corrupt the
    per-query/overall distinction — strict (default) raises on both. The
    validation is assert_true built into the plan (zero extra jobs — the
    first strict cut ran two limit(1) probes that re-executed the ANN
    lineage, bench ann_recall 2.7 -> 5.6 s), so violations surface at
    execution time."""
    import pytest

    from sycamore_spark.evaluation import ann_recall_at_k

    approx = spark.createDataFrame(
        [(1, 10), (7, 70)], "query_id bigint, vec_id bigint"
    )
    exact = spark.createDataFrame([(1, 10)], "query_id bigint, vec_id bigint")
    with pytest.raises(Exception, match="appears in approx but not in exact"):
        ann_recall_at_k(approx, exact).collect()
    # strict=False keeps the documented drop behavior
    rows = {r.query_id: r for r in ann_recall_at_k(approx, exact, strict=False).collect()}
    assert set(rows) == {1, -1} and 7 not in rows
    # overall_id collision with a legitimate query id
    both = spark.createDataFrame([(-1, 5), (2, 20)], "query_id bigint, vec_id bigint")
    with pytest.raises(Exception, match="overall_id"):
        ann_recall_at_k(both, both).collect()
    ok = ann_recall_at_k(both, both, overall_id=-999)
    assert {r.query_id for r in ok.collect()} == {-1, 2, -999}
    # strict result identical to non-strict when inputs are aligned
    al = spark.createDataFrame([(1, 10), (2, 20)], "query_id bigint, vec_id bigint")
    assert sorted(map(tuple, ann_recall_at_k(al, al).collect())) == \
        sorted(map(tuple, ann_recall_at_k(al, al, strict=False).collect()))
    # a NULL query id is a degenerate group, not an overall_id collision
    withnull = spark.createDataFrame(
        [(None, 5), (2, 20)], "query_id bigint, vec_id bigint"
    )
    got = {r.query_id for r in ann_recall_at_k(withnull, withnull).collect()}
    assert got == {None, 2, -1}


def test_sq_encode_and_topk_match_replica(vec_df, spark):
    """SQ8 codes and symmetric distances vs a per-row numpy replica."""
    from sycamore_spark.operators.similarity import sq_encode, sq_topk, sq_train

    df, X = vec_df
    vmin, step = sq_train(df)
    enc = sq_encode(df, vmin, step)
    got = {r.vec_id: list(r.sq_codes) for r in enc.collect()}

    def ref_codes(x):
        # the corpus stores float32; Spark casts float->double, so the
        # replica must quantize the float32-rounded value too
        xd = np.asarray(x, dtype=np.float32).astype(np.float64)
        return np.clip(
            np.floor((xd - np.asarray(vmin)) / np.asarray(step) + 0.5), 0, 255
        ).astype(np.int64)

    for i in range(len(X)):
        assert got[i] == list(ref_codes(X[i])), i
    q = X[12]
    top = sq_topk(q, enc, vmin, step, k=5).collect()
    qc = np.clip(
        np.floor((np.asarray(q, dtype=np.float64) - np.asarray(vmin)) / np.asarray(step) + 0.5),
        0, 255,
    ).astype(np.int64)
    scores = {i: int(((ref_codes(X[i]) - qc) ** 2).sum()) for i in range(len(X))}
    want = sorted(scores, key=lambda i: (scores[i], i))[:5]
    assert [r.vec_id for r in top] == want
    assert [r.sq_dist for r in top] == [scores[i] for i in want]


def test_sq_constant_dimension(spark):
    """A constant dimension has span 0 -> step 1.0 and code 0 everywhere."""
    from sycamore_spark.operators.similarity import sq_encode, sq_train_arrays

    X = np.hstack([np.ones((10, 1)) * 3.5, np.random.RandomState(4).rand(10, 3)])
    vmin, step = sq_train_arrays(X)
    assert step[0] == 1.0
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(10)], "vec_id bigint, embedding array<double>"
    )
    codes = sq_encode(df, vmin, step).collect()
    assert all(r.sq_codes[0] == 0 for r in codes)


def test_rrf_fuse(spark):
    """Integer-micro RRF: doc in both systems outranks single-system docs;
    exact micros; deterministic id ties."""
    from sycamore_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id bigint, vec_id bigint, rank int"
    )
    b = spark.createDataFrame(
        [(1, 10, 2), (1, 12, 1)], "query_id bigint, vec_id bigint, rank int"
    )
    rows = {r.vec_id: r for r in rrf_fuse([a, b], k0=60).collect()}
    m = lambda rk: int(1_000_000.0 / (60.0 + rk) + 0.5)
    assert rows[10].rrf_micros == m(1) + m(2) and rows[10].rank == 1
    assert rows[12].rrf_micros == m(1) and rows[11].rrf_micros == m(2)
    # 12 (micros m(1)=16393) beats 11 (m(2)=16129)
    assert rows[12].rank == 2 and rows[11].rank == 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([])
    # weighted RRF: integer weights, default = all-1 behavior
    w = {r.vec_id: r for r in rrf_fuse([a, b], k0=60, weights=[7, 3]).collect()}
    assert w[10].rrf_micros == 7 * m(1) + 3 * m(2)
    assert w[11].rrf_micros == 7 * m(2) and w[12].rrf_micros == 3 * m(1)
    # a heavy lexical weight flips 11 (system-a rank 2) above 12
    assert w[11].rank == 2 and w[12].rank == 3
    assert {r.vec_id: r.rrf_micros for r in rrf_fuse([a, b], weights=[1, 1]).collect()} \
        == {v: r.rrf_micros for v, r in rows.items()}
    with _pytest.raises(ValueError, match="weights"):
        rrf_fuse([a, b], weights=[1])
    with _pytest.raises(ValueError, match="weights"):
        rrf_fuse([a, b], weights=[1, 0])
    # bools are ints in Python — [True, False] must not half-pass (r9 ADVICE)
    with _pytest.raises(ValueError, match="weights"):
        rrf_fuse([a, b], weights=[True, False])
    with _pytest.raises(ValueError, match="weights"):
        rrf_fuse([a, b], weights=[True, True])


def test_ivf_pq_range_search_matches_threshold_on_topk(vec_df, spark):
    """Radius search must return EXACTLY the probed-cell rows whose ADC
    distance is <= radius — i.e. the threshold cut of an exhaustive
    (k = corpus) top-k over the same probed cells — and compose with
    prefilter the same way top-k does."""
    from pyspark.sql import functions as SF

    from sycamore_spark.operators.similarity import ivf_pq_range_search

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=8, seed=5)
    enc = ivf_pq_encode(df, cents, books)
    q = X[7].tolist()
    full = ivf_pq_topk(q, enc, cents, books, k=10**6, nprobe=3).collect()
    radius = sorted(r.adc_dist for r in full)[len(full) // 3]
    want = {(r.vec_id, r.adc_dist) for r in full if r.adc_dist <= radius}
    got = {
        (r.vec_id, r.adc_dist)
        for r in ivf_pq_range_search(q, enc, cents, books, radius, nprobe=3).collect()
    }
    assert got == want and 0 < len(got) < len(full)
    # prefilter composes: threshold over QUALIFYING rows only
    filt = SF.col("vec_id") % 2 == 0
    got_f = {
        r.vec_id for r in ivf_pq_range_search(
            q, enc, cents, books, radius, nprobe=3, prefilter=filt
        ).collect()
    }
    assert got_f == {v for v, _ in want if v % 2 == 0}
    # a radius below the minimum distance returns empty, not an error
    assert ivf_pq_range_search(q, enc, cents, books, radius=0, nprobe=3).count() == 0


def test_ivf_pq_multi_duplicate_qid_rejected(vec_df, spark):
    from sycamore_spark.operators.similarity import ivf_pq_topk_multi

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=8, seed=5)
    enc = ivf_pq_encode(df, cents, books)
    qdf = spark.createDataFrame(
        [(7, X[0].tolist()), (7, X[1].tolist())],
        "query_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="duplicate query id"):
        ivf_pq_topk_multi(qdf, enc, cents, books)


def test_pq_search_job_counts_and_single_vector_plans(vec_df, spark):
    """Every PQ search runs one shared query path; its job counts on a warm,
    cached, encoded corpus are pinned. A single-vector search looks its
    LUT up in a literal map (one job), so its executed plan holds no
    broadcast; so does a one-row query frame (the collect, then one job);
    a larger query frame broadcast-joins its probe table."""
    from sycamore_spark.operators.similarity import (
        ivf_pq_range_search, ivf_pq_refine_multi, ivf_pq_refine_topk,
        ivf_pq_topk_multi, pq_encode, pq_topk, pq_train,
    )

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=8, seed=5)
    enc = ivf_pq_encode(df, cents, books).persist()
    pbooks = pq_train(df, m=4, subk=8, seed=5)
    penc = pq_encode(df, pbooks).persist()
    enc.count()
    penc.count()

    def frame(ids):
        return spark.createDataFrame(
            [(int(i), X[i].tolist()) for i in ids], "query_id bigint, embedding array<float>"
        )

    q5, q1, q = frame((3, 50, 100, 150, 200)), frame((7,)), X[11]
    single = {
        "pq_topk": lambda: pq_topk(q, penc, pbooks, k=5),
        "ivf_pq_topk": lambda: ivf_pq_topk(q, enc, cents, books, k=5, nprobe=2),
        "ivf_pq_range_search": lambda: ivf_pq_range_search(q, enc, cents, books, 3000, nprobe=2),
        "ivf_pq_refine_topk": lambda: ivf_pq_refine_topk(q, enc, cents, books, k=5, refine=3),
    }
    one_row = {
        "ivf_pq_topk_multi/1": lambda: ivf_pq_topk_multi(q1, enc, cents, books, k=5),
        "ivf_pq_refine_multi/1": lambda: ivf_pq_refine_multi(q1, enc, cents, books, k=5, refine=3),
    }
    multi = {
        "ivf_pq_topk_multi/5": lambda: ivf_pq_topk_multi(q5, enc, cents, books, k=5),
        "ivf_pq_refine_multi": lambda: ivf_pq_refine_multi(q5, enc, cents, books, k=5, refine=3),
    }
    try:
        for want, ops in ((1, single), (2, one_row), (4, multi)):
            for name, op in ops.items():
                op().collect()  # warm

                def run():
                    out = op()
                    out.collect()
                    return out

                out, jobs = count_jobs(spark, run)
                assert jobs == want, name
                executed = out._jdf.queryExecution().executedPlan().toString()
                assert ("BroadcastExchange" in executed) == (want == 4), name
    finally:
        enc.unpersist()
        penc.unpersist()


@pytest.mark.parametrize("qid_type", ["bigint", "string"])
def test_one_row_query_frame_matches_the_batch_plan(vec_df, spark, qid_type):
    """A one-row query frame takes the literal-LUT plan and returns the
    rows, columns and types the broadcast plan returns for the same query
    in a larger frame, with and without a prefilter."""
    from pyspark.sql import functions as F

    from sycamore_spark.operators.similarity import ivf_pq_refine_multi, ivf_pq_topk_multi

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=8, seed=5)
    enc = ivf_pq_encode(df, cents, books)
    schema = f"query_id {qid_type}, embedding array<double>"
    qid = 7 if qid_type == "bigint" else "q7"
    one = spark.createDataFrame([(qid, X[3].tolist())], schema)
    many = one.union(spark.createDataFrame([(8 if qid_type == "bigint" else "q8", X[40].tolist())], schema))
    searches = [
        lambda q: ivf_pq_topk_multi(q, enc, cents, books, k=6, nprobe=2),
        lambda q: ivf_pq_topk_multi(q, enc, cents, books, k=6, nprobe=3, prefilter=F.col("vec_id") % 3 != 0),
        lambda q: ivf_pq_refine_multi(q, enc, cents, books, k=4, refine=3, nprobe=2),
    ]
    for search in searches:
        alone, batch = search(one), search(many).filter(F.col("query_id") == qid)
        assert alone.dtypes == batch.dtypes
        rows = sorted(batch.collect())
        assert len(rows) > 1 and sorted(alone.collect()) == rows


def test_malformed_query_vectors_raise_naming_the_query(vec_df, spark):
    """A NULL vector, a NULL element or a wrong-length vector raises
    ValueError naming the query id in every batch entry point; the NULL
    checks cover brute_force_topk, the length check the model's dimension,
    and a single-vector search rejects a NULL vector the same way."""
    from sycamore_spark.operators.similarity import (
        ivf_pq_refine_multi, ivf_pq_refine_topk, ivf_pq_topk_multi, pq_topk,
    )

    df, X = vec_df
    cents, books = ivf_pq_train(df, ncells=6, m=4, subk=8, seed=5)
    enc = ivf_pq_encode(df, cents, books)
    good = X[0].tolist()
    bad = {
        "is NULL": None,
        "has a NULL element": [None] + good[1:],
        "has 8 elements": good[:8],
    }
    for problem, vec in bad.items():
        qdf = spark.createDataFrame(
            [(1, good), (2, vec)], "query_id bigint, embedding array<float>"
        )
        for op in (ivf_pq_topk_multi, ivf_pq_refine_multi):
            with pytest.raises(ValueError, match=f"query id 2 {problem}"):
                op(qdf, enc, cents, books, k=3)
        if problem != "has 8 elements":
            with pytest.raises(ValueError, match=f"query id 2 {problem}"):
                brute_force_topk(qdf.withColumnRenamed("query_id", "vec_id"), df, k=3)
        with pytest.raises(ValueError, match=problem):
            ivf_pq_refine_topk(vec, enc, cents, books, k=3)
    with pytest.raises(ValueError, match="is NULL"):
        ivf_pq_topk(None, enc, cents, books)
    with pytest.raises(ValueError, match="has 8 elements"):
        pq_topk(good[:8], enc, books)


def test_ivf_pq_query_path_is_spelled_once():
    """One IVF-PQ query path: ``similarity.py`` routes queries to cells in
    exactly one place, and neither the old per-entry-point probe helper
    nor a per-subspace CASE chain of cell LUTs comes back."""
    import pathlib
    import re

    src = (
        pathlib.Path(__file__).resolve().parents[1]
        / "sycamore_spark" / "operators" / "similarity.py"
    ).read_text()
    assert len(re.findall(r"np\.argsort\([^\n]*kind=\"stable\"", src)) == 1
    assert "_adc_probe" not in src
    assert not re.search(r"F\.when\(\s*F\.col\(cell_col\)\s*==", src)
