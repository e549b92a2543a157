"""Approximate-nearest-neighbor search over embedding columns.

Reference parity: ``QueryVectorDatabase`` delegates kNN to OpenSearch
(reference: lib/sycamore/sycamore/query/operators/query_database.py;
physical sycamore_operator.py:194). Here retrieval is an in-engine operator:

- ``brute_force_topk`` — exact baseline: broadcast the (small) query set,
  score every corpus row with native cosine expressions, rank with a
  per-query window. One shuffle (the window), no cross-join materialization
  beyond the scored rows.
- ``ivf_topk`` — the 100 TB path: KMeans-partition the corpus into cells
  (MLlib), route each query to its ``nprobe`` nearest cells, and only score
  within routed cells. Corpus scan cost drops by ~ncells/nprobe.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sycamore_spark import store
from sycamore_spark.functions import vectors as V
from sycamore_spark.functions.local import collect_bounded, local_frame
from sycamore_spark.operators.profiling import key_skew_profile


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    metric: str = "cosine",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k neighbors per query. Returns
    (query_id, neighbor_id, rank, score) — deterministic via (score desc,
    neighbor_id asc) ordering.

    CONTRACT: the query side is collected to the driver and broadcast as a
    numpy matrix — correct for the serving shape (tens to thousands of
    queries), NOT for query sets that are themselves corpus-sized. The
    ``max_queries`` guard (default 100k ≈ 300 MB of float64 at d=384)
    raises before the collect rather than silently OOMing the driver; for
    corpus-vs-corpus similarity use the LSH/IVF paths instead
    (``ivf_topk``, ``dedup.embedding_neardup_lsh``).

    Shape: the (small, by contract) query set ships to every corpus
    partition as a numpy matrix; each Arrow batch scores ALL queries with
    one matmul and keeps only its LOCAL top-k per query (selected by the
    same (score, neighbor_id) order as the final ranking, so the global
    window — now over k x m x partitions rows instead of n x m — is exact.
    Replaces the earlier crossJoin + interpreted per-pair fold: one
    vectorized pass, and the rank shuffle no longer scales with the corpus.
    numpy's double summation agrees with the DuckDB oracle's
    list_inner_product to < 1e-15 (verified over every sf0.01 pair — zero
    6dp-rounding mismatches)."""
    import pickle

    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    out_type = StructType([
        StructField("query_id", queries.schema[query_id].dataType),
        StructField("neighbor_id", corpus.schema[corpus_id].dataType),
        StructField("rank", IntegerType()),
        StructField("score", DoubleType()),
    ])
    # one job over the caller's frame (a limit().collect() can take two);
    # the bound keeps driver memory capped even on a pathological input
    q_rows = collect_bounded(
        queries.select(
            F.col(query_id).alias("query_id"), V.as_double(F.col(query_vec)).alias("_qv")
        ),
        max_queries,
        f"brute_force_topk collects the query side to the driver; got "
        f">{max_queries} query rows (max_queries={max_queries}). Chunk "
        f"the query set or use ivf_topk / the LSH near-dup path for "
        f"corpus-sized query sets.",
    )
    if not q_rows:
        return local_frame(queries.sparkSession, [], out_type)
    qids = [r["query_id"] for r in q_rows]
    Q = np.array([r["_qv"] for r in q_rows], dtype=np.float64)
    if metric == "cosine":
        qn = np.sqrt((Q**2).sum(axis=1))
        descending = True
    elif metric == "l2":
        qn = None
        descending = False
    else:
        raise ValueError(f"unknown metric {metric}")
    qblob = pickle.dumps((qids, Q, qn))

    c = corpus.select(F.col(corpus_id).alias("neighbor_id"), V.as_double(F.col(corpus_vec)).alias("_cv"))
    qid_field = queries.schema[query_id].dataType
    nid_field = corpus.schema[corpus_id].dataType
    out_schema = StructType([
        StructField("query_id", qid_field),
        StructField("neighbor_id", nid_field),
        StructField("score", DoubleType()),
    ])

    def run(it):
        qids_l, Qm, qn_l = pickle.loads(qblob)
        for pdf in it:
            if len(pdf) == 0:
                continue
            C = np.vstack(pdf["_cv"].to_numpy())
            nids = pdf["neighbor_id"].to_numpy()
            if qn_l is not None:
                cn = np.sqrt((C**2).sum(axis=1))
                S = (C @ Qm.T) / (cn[:, None] * qn_l[None, :])  # (n, m)
            else:
                S = np.sqrt(
                    np.maximum((C**2).sum(1)[:, None] - 2.0 * (C @ Qm.T) + (Qm**2).sum(1), 0.0)
                )
            rows = {"query_id": [], "neighbor_id": [], "score": []}
            kk = min(k, len(nids))
            for qi, qid_v in enumerate(qids_l):
                s = S[:, qi]
                # local top-k by the FINAL ordering (score, then neighbor id)
                order_idx = np.lexsort((nids, -s if descending else s))[:kk]
                rows["query_id"].extend([qid_v] * len(order_idx))
                rows["neighbor_id"].extend(nids[order_idx])
                rows["score"].extend(s[order_idx])
            yield pd.DataFrame(rows)

    scored = c.mapInPandas(run, schema=out_schema)
    order = (
        [F.col("score").desc(), F.col("neighbor_id").asc()]
        if descending
        else [F.col("score").asc(), F.col("neighbor_id").asc()]
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("score", 6).alias("score"))
    )


def _train_centroids(X, ncells: int, seed: int, iters: int = 20):
    """Seeded k-means++ init + Lloyd's iterations, pure numpy. Distances use
    the ||x||^2 - 2xc + ||c||^2 expansion so memory stays O(n*k)."""
    rng = np.random.RandomState(seed)
    n = len(X)
    centers = [X[rng.randint(n)]]
    for _ in range(ncells - 1):
        C = np.array(centers)
        d2 = (X**2).sum(1)[:, None] - 2.0 * (X @ C.T) + (C**2).sum(1)
        mind = np.maximum(d2.min(axis=1), 0.0)
        total = mind.sum()
        if total <= 0:
            centers.append(X[rng.randint(n)])
        else:
            centers.append(X[rng.choice(n, p=mind / total)])
    C = np.array(centers, dtype=float)
    for _ in range(iters):
        d = -2.0 * (X @ C.T) + (C**2).sum(1)
        assign = d.argmin(axis=1)
        for j in range(ncells):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    ncells: int = 16,
    nprobe: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample: int = 100_000,
    train_sample_by: str | None = None,
) -> DataFrame:
    """IVF-style ANN: cluster corpus into cells, probe nearest cells only.

    The corpus is assigned to cells once (reusable across query
    batches — at scale, persist/bucket the assigned corpus by cell_id so
    repeated searches shuffle nothing). Each query scores only rows in its
    ``nprobe`` nearest cells: recall < 1 is the accepted trade for a
    ~ncells/nprobe scan reduction.
    """
    from pyspark.sql.types import IntegerType

    # Centroids are trained on a bounded DRIVER-SIDE SAMPLE — the standard
    # IVF design (faiss trains coarse quantizers on a sample too): centroid
    # quality needs only a representative sample, while MLlib's distributed
    # fit costs dozens of jobs. Seeded k-means++ + Lloyd's in numpy is
    # deterministic and takes milliseconds; the full corpus is then assigned
    # in ONE vectorized Arrow pass (argmin of -2XC^T + ||c||^2).
    corpus_v = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    if train_sample_by is None:
        tr = corpus_v.select(V.as_double(F.col("_cv")).alias("v"))
    else:
        tr = corpus.select(
            V.as_double(F.col(vec_col)).alias("v"), F.col(train_sample_by)
        )
    sample = _training_rows(tr, "v", train_sample, train_sample_by)
    if not sample:
        return brute_force_topk(queries, corpus, k, query_id, corpus_id, vec_col, vec_col)
    X = np.array([r["v"] for r in sample])
    C = _train_centroids(X, ncells, seed)
    c_norm2 = (C**2).sum(axis=1)

    @F.pandas_udf(IntegerType())
    def _cell(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy())
        d = -2.0 * (m @ C.T) + c_norm2  # ||x||^2 is constant per row
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    assigned = corpus_v.select(
        "neighbor_id", "_cv", _cell(V.as_double(F.col("_cv"))).alias("cell_id")
    )

    centers = [(ci, [float(x) for x in c]) for ci, c in enumerate(C)]
    centers_df = local_frame(corpus.sparkSession, centers, "cell_id bigint, center array<double>")

    q = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"))
    q_cells = (
        q.crossJoin(F.broadcast(centers_df))
        .withColumn("_d", V.l2_distance(F.col("_qv"), F.col("center")))
        .withColumn("_r", F.row_number().over(Window.partitionBy("query_id").orderBy(F.col("_d").asc())))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "_qv", "cell_id")
    )
    scored = assigned.join(F.broadcast(q_cells), "cell_id").withColumn(
        "score", V.cosine(F.col("_qv"), F.col("_cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("score", 6).alias("score"))
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 4,
    lambda_pct: int = 70,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rel_col: str = "rel_micros",
    vec_col: str = "embedding",
    quantize_scale: float = 1024.0,
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein
    1998): greedily pick ``k`` results per query maximizing

        lambda * relevance - (1 - lambda) * max_sim_to_already_selected

    — the standard fix for a RAG context window full of near-identical
    top hits. Input is one row per (query, candidate) with a relevance
    score in integer micros and the candidate's embedding; returns
    (query_col, id_col, mmr_rank, mmr_score) — score in integer
    lambda-weighted micros at selection time.

    Exactness: embeddings are quantized to integers (so pairwise cosines
    are identical under any summation order), cosines floor to micros,
    and the greedy objective is pure BIGINT arithmetic
    (``lambda_pct*rel - (100-lambda_pct)*penalty``) with ties broken by
    ascending id — the whole selection replays bit-exactly in SQL.

    Shape: one ``applyInPandas`` group per query. The greedy step is
    inherently sequential per query but queries are independent, so the
    stage parallelizes across the query set; per-group cost is one
    (m x m) Gram matmul + k scans of m candidates. m is the upstream
    retriever's candidate count (tens to hundreds) by construction —
    this operator sits AFTER top-m retrieval, never on the raw corpus.
    """
    import pandas as pd

    s = float(quantize_scale)
    lam = int(lambda_pct)
    qt = candidates.schema[query_col].dataType.simpleString()
    it = candidates.schema[id_col].dataType.simpleString()
    out_schema = f"{query_col} {qt}, {id_col} {it}, mmr_rank int, mmr_score long"

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        M = np.floor(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64) * s + 0.5)
        G = M @ M.T  # exact integers in float64
        norms = np.sqrt(np.diag(G))
        sim = np.floor(G / np.outer(norms, norms) * 1e6 + 0.5).astype(np.int64)
        rel = pdf[rel_col].to_numpy().astype(np.int64)
        ids = pdf[id_col].to_numpy()
        qid = pdf[query_col].iloc[0]
        selected: list[int] = []
        avail = list(range(len(ids)))
        rows = []
        for step in range(min(k, len(ids))):
            best_i, best_score = None, None
            for i in avail:  # ascending id order -> smallest id wins ties
                pen = max((int(sim[i, j]) for j in selected), default=0)
                score = lam * int(rel[i]) - (100 - lam) * pen
                if best_score is None or score > best_score:
                    best_i, best_score = i, score
            selected.append(best_i)
            avail.remove(best_i)
            rows.append(
                {query_col: qid, id_col: ids[best_i], "mmr_rank": step + 1,
                 "mmr_score": best_score}
            )
        return pd.DataFrame(rows)

    return (
        candidates.select(query_col, id_col, rel_col, vec_col)
        .groupBy(query_col)
        .applyInPandas(_one, schema=out_schema)
    )


# -- product quantization (IVF-PQ's compression half) -------------------------


def _training_rows(corpus: DataFrame, vec_col: str, n: int, sample_by: str | None):
    """Bounded driver-side training sample shared by the pq/ivf_pq/sq
    trainers (the faiss contract: coarse models train on a sample).

    Default (``sample_by=None``): ``LIMIT n`` — stops the scan at the
    first files, cheapest, but a PREFIX: on a corpus sorted by
    source/date the sample sees one slice and the codebooks skew (r8
    verdict #4). Pass ``sample_by=<stable key column>`` to draw a
    deterministic pseudo-random sample spread across the WHOLE corpus
    instead: ORDER BY xxhash64(key) LIMIT n compiles to
    TakeOrderedAndProject — per-partition top-n + a driver merge of n
    rows, one full scan, NO shuffle, partitioning-independent and
    reproducible (no fraction estimation, exactly n rows).

    A prefix sample of a LARGER corpus is a silent recall hazard (the
    r9 test measured recall@10 0.44 prefix vs 0.94 hash on a
    cluster-sorted corpus), so when ``sample_by is None`` and the
    corpus is estimated (plan stats, no job) to exceed ``n`` rows, a
    warning says to pass ``sample_by``."""
    if sample_by is None:
        from sycamore_spark.operators.sampling import _estimated_rows

        est = _estimated_rows(corpus)
        if est is not None and est > n:
            import warnings

            warnings.warn(
                f"codebook training with sample_by=None takes a PREFIX "
                f"LIMIT {n} of an estimated {est:,}-row corpus; on a "
                f"source/date-sorted corpus the sample sees one slice and "
                f"recall drops (measured 0.44 vs 0.94). Pass sample_by="
                f"<stable key column> for a corpus-spread hash sample.",
                stacklevel=3,
            )
        return corpus.select(vec_col).limit(n).collect()
    return (
        corpus.select(F.col(vec_col), F.col(sample_by).alias("_k"))
        .orderBy(F.xxhash64(F.col("_k")).asc(), F.col("_k").asc())
        .limit(n)
        .select(vec_col)
        .collect()
    )


def _uniform_subdim(B) -> int:
    """Subvector dimension shared by every PQ codebook. Every encode/search
    path slices the (residual) vector as rq[s*sub:(s+1)*sub]; a codebook
    list with MIXED subvector dims would slice the wrong spans and encode/
    score silently wrong — fail loudly instead. (Codebook LENGTHS — subk —
    may differ per subspace; flat-LUT consumers use cumulative offsets.)"""
    dims = {b.shape[1] for b in B}
    if len(dims) != 1:
        raise ValueError(
            f"PQ codebooks must share one subvector dim; got dims {sorted(dims)}"
        )
    return dims.pop()

def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    subk: int = 16,
    sample: int = 10_000,
    seed: int = 7,
    scale: float = 1024.0,
    sample_by: str | None = None,
) -> list:
    """Train ``m`` per-subspace codebooks of ``subk`` centroids on a bounded
    driver sample (the standard PQ construction: split d dims into m
    subvectors, k-means each independently).

    100 TB shape: training reads a bounded sample only; the model is
    m*subk*(d/m) integers — kilobytes — shipped to executors as literals.
    Default sampling is a prefix LIMIT (cheapest); pass ``sample_by`` for
    a corpus-spread hash sample on source-sorted corpora (see
    ``_training_rows``). Vectors are quantized to integers
    (floor(x*scale+0.5)) BEFORE training and centroids rounded to integers
    after, so encoding and ADC scoring downstream are exact int64
    arithmetic: order-independent, and an oracle can replay them
    bit-for-bit."""
    rows = _training_rows(corpus, vec_col, sample, sample_by)
    X = np.array([list(r[0]) for r in rows], dtype=float)
    return pq_train_arrays(X, m=m, subk=subk, seed=seed, scale=scale)


def pq_train_arrays(
    X, m: int = 8, subk: int = 16, seed: int = 7, scale: float = 1024.0
) -> list:
    """Codebook training on an in-memory matrix (the engine-independent
    core of ``pq_train`` — an oracle replicates codebooks by feeding the
    identical vectors through this same function)."""
    X = np.asarray(X, dtype=float)
    Xq = np.floor(X * scale + 0.5)
    d = Xq.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = []
    for s in range(m):
        C = _train_centroids(Xq[:, s * sub:(s + 1) * sub], subk, seed + s)
        books.append(np.floor(C + 0.5).astype(np.int64).tolist())
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    scale: float = 1024.0,
    out_col: str = "pq_codes",
) -> DataFrame:
    """Attach each row's PQ codes (array<int>, one code per subspace):
    argmin integer squared distance to the subspace codebook — first-min
    tie-break, matching a SQL list_position(min) replay. One Arrow pass,
    zero shuffle; the corpus shrinks from d floats to m bytes per row."""
    from pyspark.sql.types import ArrayType, IntegerType

    B = [np.array(b, dtype=np.int64) for b in codebooks]
    sub = _uniform_subdim(B)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _enc(vs: pd.Series) -> pd.Series:
        out = []
        for v in vs:
            if v is None:
                out.append(None)
                continue
            x = np.floor(np.asarray(v, dtype=float) * scale + 0.5).astype(np.int64)
            codes = []
            for s, Bs in enumerate(B):
                diff = Bs - x[s * sub:(s + 1) * sub]
                codes.append(int((diff * diff).sum(axis=1).argmin()))
            out.append(codes)
        return pd.Series(out)

    return df.withColumn(out_col, _enc(F.col(vec_col)))


def pq_topk(
    query_vec,
    encoded: DataFrame,
    codebooks: list,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    scale: float = 1024.0,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query's per-
    subspace lookup table (int64 sqdist to each centroid) is computed
    driver-side and inlined as literal arrays; each row's score is m
    element_at lookups + an integer sum — native codegen, no UDF — and the
    global top-k compiles to TakeOrderedAndProject (per-partition heads +
    k-row driver merge). Deterministic ties by id. Rows without codes
    (pq_encode emits null for null embeddings) are excluded up front —
    Spark's ascending sort is NULLS FIRST, so an unfiltered null code
    would otherwise displace real neighbors from the top-k."""
    q = np.floor(np.asarray(list(query_vec), dtype=float) * scale + 0.5).astype(np.int64)
    score = None
    for s, b in enumerate(codebooks):
        Bs = np.array(b, dtype=np.int64)
        sub = Bs.shape[1]
        diff = Bs - q[s * sub:(s + 1) * sub]
        lut = (diff * diff).sum(axis=1).tolist()
        term = F.element_at(
            F.array(*[F.lit(int(v)) for v in lut]), F.col(codes_col)[s] + 1
        )
        score = term if score is None else score + term
    return (
        encoded.filter(F.col(codes_col).isNotNull())
        .select(id_col, score.cast("bigint").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


# -- IVF-PQ (coarse cells + PQ-compressed residuals, the full 100 TB ANN) -----
#
# Operational note (cell skew): a hub cell — a skewed corpus whose mass
# concentrates in one coarse centroid — makes nprobe scans uneven: every
# query probing that cell pays the hub's scan, and the store's biggest
# partition bounds task time. ``check_cell_balance`` composes the key_skew
# profiler over cell_id and WARNS past a max/mean ratio (default 4x) —
# the fix at scale is retraining with more cells, hash-sampled training
# data (see ``*_train`` samplers), or splitting the hub cell.


def check_cell_balance(
    encoded: DataFrame, cell_col: str = "cell_id", warn_ratio: float = 4.0
) -> float:
    """Profile the encoded corpus's cell-occupancy skew and warn when the
    fullest cell holds more than ``warn_ratio`` times the mean cell's rows
    (the ``pack_shards`` warning pattern applied to the ANN store).

    Returns the max-cell/mean-cell ratio. Cost: ONE hash agg on cell_id
    (map-side combined) + a one-row collect — safe at any corpus size."""
    top = key_skew_profile(encoded, cell_col, top_n=1).collect()
    ratio = float(top[0]["skew_ratio"]) if top else 0.0
    if ratio > warn_ratio:
        import warnings

        warnings.warn(
            f"IVF store cell skew: fullest {cell_col}={top[0]['key']} holds "
            f"{ratio:.1f}x the mean cell's rows (> {warn_ratio}x) — nprobe "
            f"scans hitting it are unbalanced; retrain with more cells, "
            f"hash-sampled training data, or split the hub cell.",
            stacklevel=2,
        )
    return ratio


def ivf_pq_train_arrays(
    X,
    ncells: int = 8,
    m: int = 8,
    subk: int = 16,
    seed: int = 7,
    scale: float = 1024.0,
) -> tuple[list, list]:
    """Train the composed IVF-PQ model on an in-memory matrix: coarse
    k-means centroids over the whole vector, then ONE shared product
    quantizer over the residuals ``x - C[assign(x)]`` (faiss's
    IndexIVFPQ layout — a single residual codebook shared by all cells,
    not per-cell codebooks, so the model stays kilobytes at any ncells).

    Everything is quantized to integers (floor(x*scale+0.5); centroids
    and codebook entries rounded to integers after training) so cell
    assignment, residual encoding, and ADC scoring downstream are exact
    int64 arithmetic — order-independent and bit-replayable by a SQL
    oracle. Returns (centroids, codebooks): ncells x d and m lists of
    subk x (d/m) integer lists."""
    X = np.asarray(X, dtype=float)
    Xq = np.floor(X * scale + 0.5).astype(np.int64)
    d = Xq.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    C = np.floor(_train_centroids(Xq.astype(float), ncells, seed) + 0.5).astype(np.int64)
    dist = (Xq**2).sum(1)[:, None] - 2 * (Xq @ C.T) + (C**2).sum(1)
    R = Xq - C[dist.argmin(axis=1)]
    books = []
    for s in range(m):
        B = _train_centroids(R[:, s * sub:(s + 1) * sub].astype(float), subk, seed + 1 + s)
        books.append(np.floor(B + 0.5).astype(np.int64).tolist())
    return C.tolist(), books


def ivf_pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    ncells: int = 8,
    m: int = 8,
    subk: int = 16,
    sample: int = 10_000,
    seed: int = 7,
    scale: float = 1024.0,
    sample_by: str | None = None,
) -> tuple[list, list]:
    """DataFrame front-end for ``ivf_pq_train_arrays``: training reads a
    bounded driver sample only (the standard coarse-quantizer
    construction — centroid quality needs a representative sample, not the
    corpus); the model ships to executors as literals. Default sampling is
    a prefix LIMIT; pass ``sample_by`` for a corpus-spread hash sample on
    source-sorted corpora (see ``_training_rows`` — prefix training on a
    sorted corpus skews the coarse cells, tests/test_ivf_pq.py proves the
    recall gap)."""
    rows = _training_rows(corpus, vec_col, sample, sample_by)
    X = np.array([list(r[0]) for r in rows], dtype=float)
    return ivf_pq_train_arrays(X, ncells=ncells, m=m, subk=subk, seed=seed, scale=scale)


def ivf_pq_encode(
    df: DataFrame,
    centroids: list,
    codebooks: list,
    vec_col: str = "embedding",
    scale: float = 1024.0,
    cell_col: str = "cell_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Attach (cell_id, pq_codes) per row: nearest coarse centroid by
    integer squared distance (first-min tie-break, matching both numpy
    argmin and a SQL list_position(list_min) replay), then per-subspace
    codes of the integer RESIDUAL against the shared codebooks. One Arrow
    pass, zero shuffle; the corpus shrinks from d floats to a small int +
    m bytes per row. At scale, write the encoded corpus bucketed/
    partitioned BY cell_id so a probe reads only its cells' files
    (partition pruning does the nprobe/ncells scan cut for free).

    This is a ``mapInPandas`` stage, not a struct-returning pandas_udf, on
    purpose: a downstream plan that both FILTERS on cell_id and PROJECTS
    over pq_codes (exactly what ivf_pq_topk does) gets a pandas_udf
    extracted TWICE — one ArrowEvalPython for the filter, another for the
    projection — doubling the encode cost of every search (observed in the
    gate's formatted plan). MapInPandas is a physical barrier whose output
    columns are real columns, evaluated once."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    C = np.array(centroids, dtype=np.int64)
    B = [np.array(b, dtype=np.int64) for b in codebooks]
    m = len(B)
    sub = _uniform_subdim(B)
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(cell_col, IntegerType()), StructField(codes_col, ArrayType(IntegerType()))]
    )

    def run(it):
        for pdf in it:
            cells, codes_out = [], []
            for v in pdf[vec_col]:
                if v is None:
                    cells.append(None)
                    codes_out.append(None)
                    continue
                x = np.floor(np.asarray(v, dtype=float) * scale + 0.5).astype(np.int64)
                diff = C - x
                c = int((diff * diff).sum(axis=1).argmin())
                r = x - C[c]
                codes = []
                for s in range(m):
                    db = B[s] - r[s * sub:(s + 1) * sub]
                    codes.append(int((db * db).sum(axis=1).argmin()))
                cells.append(c)
                codes_out.append(codes)
            pdf = pdf.copy()
            pdf[cell_col] = pd.array(cells, dtype="Int32")
            pdf[codes_col] = pd.Series(codes_out, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def ivf_pq_topk(
    query_vec,
    encoded: DataFrame,
    centroids: list,
    codebooks: list,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "cell_id",
    codes_col: str = "pq_codes",
    scale: float = 1024.0,
    prefilter=None,
) -> DataFrame:
    """ADC top-k restricted to the query's ``nprobe`` nearest cells — the
    composed IVF-PQ search: cell routing and the per-cell lookup tables
    (int64 sqdist of the query's PER-CELL residual to each shared-codebook
    centroid) are computed driver-side from kilobyte literals; the scan
    filters to probed cells (partition pruning when the corpus is laid out
    by cell_id), each surviving row's score is m lookups — element_at over
    a cell-selected literal array — plus an integer sum, all native
    codegen; and the global top-k compiles to TakeOrderedAndProject.
    Deterministic ties by id; rows with null codes are excluded (NULLS
    FIRST would otherwise displace real neighbors).

    ``prefilter`` (optional Column) is FILTERED vector search — the
    metadata-restricted kNN the reference exposes as QueryVectorDatabase's
    ``filter`` (query/operators/query_database.py, pushed into the
    OpenSearch DSL; faiss's IDSelector analogue). It is conjoined with the
    cell/null predicate BEFORE scoring, so Catalyst pushes it into the
    same scan — a plain parquet predicate, never a post-rank drop: the
    top-k is exact over the rows that satisfy the predicate (post-filter
    rank-then-drop would return fewer than k and miss qualifying
    neighbors ranked below the unfiltered top-k)."""
    probed, score = _adc_probe(
        query_vec, centroids, codebooks, nprobe, cell_col, codes_col, scale
    )
    return (
        encoded.filter(
            F.col(cell_col).isin(probed) & F.col(codes_col).isNotNull()
            & (prefilter if prefilter is not None else F.lit(True))
        )
        .select(id_col, score.cast("bigint").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def _adc_probe(
    query_vec, centroids: list, codebooks: list, nprobe: int,
    cell_col: str, codes_col: str, scale: float,
):
    """Driver-side cell routing + the codegen ADC score expression shared
    by ``ivf_pq_topk`` and ``ivf_pq_range_search``: quantize the query,
    pick its ``nprobe`` nearest coarse cells, build the per-cell
    per-subspace residual LUTs as kilobyte literals, and return
    (probed_cells, score_column) where the score is m element_at lookups
    + an integer sum — whole-stage codegen, no Python at scan time."""
    C = np.array(centroids, dtype=np.int64)
    B = [np.array(b, dtype=np.int64) for b in codebooks]
    m = len(B)
    sub = _uniform_subdim(B)
    q = np.floor(np.asarray(list(query_vec), dtype=float) * scale + 0.5).astype(np.int64)
    dc = ((C - q) ** 2).sum(axis=1)
    probed = [int(c) for c in np.argsort(dc, kind="stable")[:nprobe]]
    luts = {}  # cell -> per-subspace LUT over the query's residual IN that cell
    for c in probed:
        r = q - C[c]
        luts[c] = [
            ((B[s] - r[s * sub:(s + 1) * sub]) ** 2).sum(axis=1).tolist()
            for s in range(m)
        ]
    score = None
    for s in range(m):
        lut_for_cell = None
        for c in probed:
            arr = F.array(*[F.lit(int(v)) for v in luts[c][s]])
            lut_for_cell = (
                F.when(F.col(cell_col) == c, arr)
                if lut_for_cell is None
                else lut_for_cell.when(F.col(cell_col) == c, arr)
            )
        term = F.element_at(lut_for_cell, F.col(codes_col)[s] + 1)
        score = term if score is None else score + term
    return probed, score


def ivf_pq_range_search(
    query_vec,
    encoded: DataFrame,
    centroids: list,
    codebooks: list,
    radius: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "cell_id",
    codes_col: str = "pq_codes",
    scale: float = 1024.0,
    prefilter=None,
) -> DataFrame:
    """RADIUS search — faiss ``range_search`` in the lakehouse layout:
    every row within ADC distance <= ``radius`` of the query (in the
    int64 quantized space ``adc_dist`` lives in), restricted to the
    ``nprobe`` probed cells. The all-neighbors-within-a-threshold
    primitive top-k cannot express — near-duplicate sweeps ('everything
    within d of this doc') and recall-bounded filters run on this, not
    on an arbitrary k.

    Shape: strictly LIGHTER than top-k — the scan prunes to probed cells
    (PartitionFilters on a cell-partitioned store), the score is the
    same codegen LUT sum, and the radius cut is a plain filter: no rank
    window, no TakeOrdered, result rows stream straight out. The
    returned frame is UNORDERED (order it if presenting); same
    ``prefilter`` contract as ``ivf_pq_topk`` (conjoined before scoring,
    pushed into the scan)."""
    probed, score = _adc_probe(
        query_vec, centroids, codebooks, nprobe, cell_col, codes_col, scale
    )
    return (
        encoded.filter(
            F.col(cell_col).isin(probed) & F.col(codes_col).isNotNull()
            & (prefilter if prefilter is not None else F.lit(True))
        )
        .select(id_col, score.cast("bigint").alias("adc_dist"))
        .filter(F.col("adc_dist") <= int(radius))
    )


def ivf_pq_topk_multi(
    queries: DataFrame,
    encoded: DataFrame,
    centroids: list,
    codebooks: list,
    k: int = 10,
    nprobe: int = 2,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell_id",
    codes_col: str = "pq_codes",
    scale: float = 1024.0,
    max_queries: int = 100_000,
    prefilter=None,
) -> DataFrame:
    """Batch IVF-PQ search — the serving shape: a whole DataFrame of
    queries against one encoded corpus. Per the ``brute_force_topk``
    contract the query side is collected to the driver (bounded by
    ``max_queries``); each query's probe routing and per-cell lookup
    tables are computed there (kilobytes per query: m*subk int64 per
    probed cell) and shipped back as a small (query, cell, flat-LUT)
    table that BROADCAST-joins the encoded corpus on cell_id. Scoring is
    m ``element_at`` lookups into the LUT *column* plus an integer sum —
    native codegen, no per-row Python — and the per-query top-k is one
    rank window over rows already restricted to probed cells
    (~nprobe/ncells of the corpus per query).

    Returns (query_id, id_col, rank, adc_dist); deterministic ties by id;
    rows with null codes are excluded. Integer-exact, so a SQL oracle
    replays it bit-for-bit. ``prefilter`` (optional Column over the
    encoded corpus) is filtered vector search, same contract as
    ``ivf_pq_topk``: conjoined before scoring so it pushes into the scan
    and the per-query top-k is exact over qualifying rows."""
    C = np.array(centroids, dtype=np.int64)
    B = [np.array(b, dtype=np.int64) for b in codebooks]
    m = len(B)
    sub = _uniform_subdim(B)
    q_rows = collect_bounded(
        queries.select(F.col(query_id).alias("_qid"), V.as_double(F.col(query_vec)).alias("_qv")),
        max_queries,
        f"ivf_pq_topk_multi collects the query side to the driver; got "
        f">{max_queries} query rows (max_queries={max_queries}). Chunk "
        f"the query set.",
    )
    seen_qids = set()
    for r in q_rows:
        if r["_qid"] in seen_qids:
            # a duplicate qid would emit duplicate (query, cell, LUT) probe
            # rows, the join would score every corpus row twice, and the
            # rank window would fill the top-k with repeated ids — fail
            # loudly instead of silently corrupting the result
            raise ValueError(f"duplicate query id {r['_qid']!r} in the query set")
        seen_qids.add(r["_qid"])
    probe_rows = []
    for r in q_rows:
        q = np.floor(np.asarray(r["_qv"], dtype=float) * scale + 0.5).astype(np.int64)
        dc = ((C - q) ** 2).sum(axis=1)
        for c in np.argsort(dc, kind="stable")[:nprobe]:
            rq = q - C[int(c)]
            lut = np.concatenate([
                ((B[s] - rq[s * sub:(s + 1) * sub]) ** 2).sum(axis=1) for s in range(m)
            ])
            probe_rows.append((r["_qid"], int(c), [int(v) for v in lut]))
    probes = local_frame(
        encoded.sparkSession, probe_rows,
        f"_qid {queries.schema[query_id].dataType.simpleString()}, "
        f"{cell_col} int, _lut array<bigint>",
    )
    # flat-LUT block offsets: cumulative, NOT s*subk — ragged codebooks
    # (per-subspace lengths may differ) would otherwise index the wrong
    # block and return silently wrong distances (r8 ADVICE)
    offsets = [0]
    for b in B:
        offsets.append(offsets[-1] + b.shape[0])
    score = None
    for s in range(m):
        term = F.element_at(F.col("_lut"), F.lit(offsets[s]) + F.col(codes_col)[s] + 1)
        score = term if score is None else score + term
    # The probed-cell UNION is known driver-side, so prune STATICALLY
    # before the join: on a partitionBy(cell_id) store this is partition
    # pruning at file-listing time (the broadcast join alone would list
    # every cell and rely on the post-scan join to drop rows — at 100 TB
    # that is the whole store scanned for a handful of probed cells).
    probed_cells = sorted({int(c) for _, c, _ in probe_rows})
    scored = (
        encoded.filter(
            (F.col(cell_col).isin(probed_cells) if probed_cells else F.lit(False))
            & F.col(codes_col).isNotNull()
            & (prefilter if prefilter is not None else F.lit(True))
        )
        .join(F.broadcast(probes), cell_col)
        .select("_qid", id_col, score.cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias(query_id), id_col, "rank", "adc_dist")
    )


def ivf_pq_refine_topk(
    query_vec,
    encoded: DataFrame,
    centroids: list,
    codebooks: list,
    k: int = 10,
    refine: int = 4,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell_id",
    codes_col: str = "pq_codes",
    scale: float = 1024.0,
) -> DataFrame:
    """IVF-PQ with exact re-ranking (faiss's IndexRefineFlat pattern): ADC
    ranks a candidate pool of ``refine * k`` rows inside the probed cells,
    then the pool — and ONLY the pool — is re-scored with the exact
    (quantized-integer) L2 distance and the true top-k returned. Buys back
    most of PQ's quantization loss for the price of refine*k exact
    distance evaluations.

    Shape: the candidate TakeOrderedAndProject CARRIES the embedding
    column, so refinement never rescans or rejoins the corpus; the exact
    distance is a zip_with/aggregate over int64 — native codegen, no UDF —
    on refine*k driver-merged rows. Integer-exact end to end, so a SQL
    oracle replays both stages bit-for-bit. Returns (id, adc_dist,
    exact_dist) ordered by (exact_dist, id)."""
    C = np.array(centroids, dtype=np.int64)
    B = [np.array(b, dtype=np.int64) for b in codebooks]
    m = len(B)
    sub = _uniform_subdim(B)
    q = np.floor(np.asarray(list(query_vec), dtype=float) * scale + 0.5).astype(np.int64)
    dc = ((C - q) ** 2).sum(axis=1)
    probed = [int(c) for c in np.argsort(dc, kind="stable")[:nprobe]]
    luts = {}
    for c in probed:
        r = q - C[c]
        luts[c] = [
            ((B[s] - r[s * sub:(s + 1) * sub]) ** 2).sum(axis=1).tolist()
            for s in range(m)
        ]
    adc = None
    for s in range(m):
        lut_for_cell = None
        for c in probed:
            arr = F.array(*[F.lit(int(v)) for v in luts[c][s]])
            lut_for_cell = (
                F.when(F.col(cell_col) == c, arr)
                if lut_for_cell is None
                else lut_for_cell.when(F.col(cell_col) == c, arr)
            )
        term = F.element_at(lut_for_cell, F.col(codes_col)[s] + 1)
        adc = term if adc is None else adc + term
    cand = (
        encoded.filter(F.col(cell_col).isin(probed) & F.col(codes_col).isNotNull())
        .select(id_col, vec_col, adc.cast("bigint").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(refine * k)
    )
    qlit = F.array(*[F.lit(int(v)) for v in q])
    xq = F.transform(
        V.as_double(F.col(vec_col)),
        lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("bigint"),
    )
    exact = F.aggregate(
        F.zip_with(xq, qlit, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return (
        cand.select(id_col, "adc_dist", exact.alias("exact_dist"))
        .orderBy(F.col("exact_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_refine_multi(
    queries: DataFrame,
    encoded: DataFrame,
    centroids: list,
    codebooks: list,
    k: int = 10,
    refine: int = 4,
    nprobe: int = 2,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell_id",
    codes_col: str = "pq_codes",
    scale: float = 1024.0,
    max_queries: int = 100_000,
    prefilter=None,
) -> DataFrame:
    """Batch IVF-PQ with exact re-ranking — ``ivf_pq_refine_topk``'s
    IndexRefineFlat pattern in the ``ivf_pq_topk_multi`` serving shape: a
    whole DataFrame of queries, each ADC-ranking a ``refine * k``
    candidate pool inside its probed cells, then ONLY the pool re-scored
    with the exact quantized-integer L2 against that query's vector.

    Shape: the broadcast probe table carries each query's flat LUT AND
    its quantized vector (kilobytes/query), the probed-cell union prunes
    the store statically, the pool cut and the exact re-rank are TWO rank
    windows over the SAME query-id partitioning (one shuffle — Catalyst
    reuses the exchange), and the exact distance is zip_with/aggregate
    int64 codegen on refine*k rows per query. Integer-exact end to end.

    Returns (query_id, id_col, rank, adc_dist, exact_dist); ties by id;
    ``prefilter`` as in ``ivf_pq_topk_multi``."""
    C = np.array(centroids, dtype=np.int64)
    B = [np.array(b, dtype=np.int64) for b in codebooks]
    m = len(B)
    sub = _uniform_subdim(B)
    q_rows = collect_bounded(
        queries.select(F.col(query_id).alias("_qid"), V.as_double(F.col(query_vec)).alias("_qv")),
        max_queries,
        f"ivf_pq_refine_multi collects the query side to the driver; got "
        f">{max_queries} query rows (max_queries={max_queries}). Chunk "
        f"the query set.",
    )
    seen = set()
    for r in q_rows:
        if r["_qid"] in seen:
            raise ValueError(f"duplicate query id {r['_qid']!r} in the query set")
        seen.add(r["_qid"])
    probe_rows = []
    for r in q_rows:
        q = np.floor(np.asarray(r["_qv"], dtype=float) * scale + 0.5).astype(np.int64)
        dc = ((C - q) ** 2).sum(axis=1)
        for c in np.argsort(dc, kind="stable")[:nprobe]:
            rq = q - C[int(c)]
            lut = np.concatenate([
                ((B[s] - rq[s * sub:(s + 1) * sub]) ** 2).sum(axis=1) for s in range(m)
            ])
            probe_rows.append(
                (r["_qid"], int(c), [int(v) for v in lut], [int(v) for v in q])
            )
    probes = local_frame(
        encoded.sparkSession, probe_rows,
        f"_qid {queries.schema[query_id].dataType.simpleString()}, "
        f"{cell_col} int, _lut array<bigint>, _qq array<bigint>",
    )
    offsets = [0]
    for b in B:
        offsets.append(offsets[-1] + b.shape[0])
    adc = None
    for s in range(m):
        term = F.element_at(F.col("_lut"), F.lit(offsets[s]) + F.col(codes_col)[s] + 1)
        adc = term if adc is None else adc + term
    probed_cells = sorted({int(c) for _, c, _, _ in probe_rows})
    scored = (
        encoded.filter(
            (F.col(cell_col).isin(probed_cells) if probed_cells else F.lit(False))
            & F.col(codes_col).isNotNull()
            & (prefilter if prefilter is not None else F.lit(True))
        )
        .join(F.broadcast(probes), cell_col)
        .select("_qid", id_col, F.col(vec_col).alias("_v"), "_qq",
                adc.cast("bigint").alias("adc_dist"))
    )
    w_adc = Window.partitionBy("_qid").orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
    pool = scored.withColumn("_r", F.row_number().over(w_adc)).filter(
        F.col("_r") <= refine * k
    )
    xq = F.transform(
        V.as_double(F.col("_v")),
        lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("bigint"),
    )
    exact = F.aggregate(
        F.zip_with(xq, F.col("_qq"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    w_ex = Window.partitionBy("_qid").orderBy(F.col("exact_dist").asc(), F.col(id_col).asc())
    return (
        pool.select("_qid", id_col, "adc_dist", exact.alias("exact_dist"))
        .withColumn("rank", F.row_number().over(w_ex))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias(query_id), id_col, "rank", "adc_dist", "exact_dist")
    )


def ann_store_apply_changes(
    spark,
    store_dir: str,
    changes: DataFrame,
    centroids: list,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell_id",
    codes_col: str = "pq_codes",
    op_col: str = "op",
    delete_op: str = "D",
    scale: float = 1024.0,
    prepared: bool = False,
) -> int:
    """Upsert/delete a vector delta into the cell-partitioned ANN store —
    faiss ``remove_ids``/``add`` in the lakehouse layout. The delta is a
    batch of (id, vector, op) rows: non-delete ops are (re-)encoded with
    the store's model (an updated vector may land in a DIFFERENT cell —
    the row moves directories), delete ops drop the id. Only the touched
    cells are rebuilt: the old cells holding any delta id (one
    column-pruned semi-join scan of the store) plus the new cells of the
    encoded upserts; their rows are rewritten as (old minus delta ids)
    union (encoded upserts) via dynamic partition overwrite, and a cell
    whose last row was deleted has its directory removed explicitly
    (dynamic overwrite cannot write an empty partition — without this the
    stale files would survive). Returns the touched-cell count. The
    steps are ``functions.partitioning.fold_touched_buckets``; unlike the
    postings and norms folds, a missing store is an error here.

    Scale contract: the delta id set is broadcast (batch-sized, the CDC
    contract — streaming/cdc.py maintain_snapshot_stream is the same
    shape over generic buckets); work and rewrite volume are ∝ touched
    cells, never the store. Store rows outside ``(id, codes, cell)`` plus
    whatever extra columns the delta carries must agree by name for the
    union. The merged rows are lineage-cut before the overwrite (the
    write replaces the very files the plan reads).

    A delta must carry each id at most ONCE: the same id twice (e.g. two
    U rows) would anti-join the old row once but union BOTH encoded rows,
    silently leaving duplicate vectors in the store — rejected loudly
    (one batch-sized agg; callers with multi-event feeds collapse to a
    last-writer row first, as streaming/cdc.py does via seq_col).

    The delta is lineage-cut on entry (lazily — the touched-cell
    probe is the first action and materializes it): this function
    references its lineage ~6 times (dup validation, the broadcast id set
    on both joins, encode, cell union), and a delta whose upstream is an
    expensive re-embed (the embed-CDC path) would otherwise re-run that
    work per reference. Batch-sized by contract, so materializing it is
    cheap. ``prepared=True`` asserts the caller already cut
    and dup-validated the delta (multi-store fold callers), skipping the
    redundant entry work — identical results ONLY under that contract: an
    unchecked duplicate id silently leaves duplicate vectors in the store
    instead of raising, and an un-checkpointed non-deterministic delta can
    diverge between the references above."""
    from sycamore_spark.functions.partitioning import fold_touched_buckets

    store = spark.read.parquet(store_dir)  # a missing store is an error
    return fold_touched_buckets(
        store_dir,
        store,
        changes,
        lambda ups: ivf_pq_encode(
            ups, centroids, codebooks, vec_col=vec_col, scale=scale,
            cell_col=cell_col, codes_col=codes_col,
        ).select(*store.columns),
        id_col, cell_col, op_col, delete_op,
        prepared=prepared,
    )


# -- scalar quantization (SQ8): the zero-UDF compression path -----------------

def sq_train_arrays(X, bits: int = 8) -> tuple[list, list]:
    """Per-dimension scalar-quantizer training on an in-memory matrix:
    returns (vmin, step) double lists where step = (max - min) / (2^bits - 1)
    (1.0 for constant dimensions so encoding maps them to code 0). The
    model is 2*d doubles — bytes — and both sides of an oracle regenerate
    it from the same sample, so the double arithmetic replays exactly."""
    X = np.asarray(X, dtype=np.float64)
    vmin = X.min(axis=0)
    span = X.max(axis=0) - vmin
    levels = (1 << bits) - 1
    step = np.where(span > 0, span / levels, 1.0)
    return [float(v) for v in vmin], [float(v) for v in step]


def sq_train(corpus: DataFrame, vec_col: str = "embedding", bits: int = 8,
             sample: int = 100_000, sample_by: str | None = None) -> tuple[list, list]:
    """DataFrame front-end for ``sq_train_arrays`` (bounded driver sample,
    the coarse-model training contract shared with pq/ivf_pq; default
    prefix LIMIT, ``sample_by`` = corpus-spread hash sample)."""
    rows = _training_rows(corpus, vec_col, sample, sample_by)
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    return sq_train_arrays(X, bits=bits)


def _sq_code_expr(vec, vmin: list, step: list, levels: int):
    """clamp(floor((x - vmin_i) / step_i + 0.5), 0, levels) per dimension —
    one transform HOF over literal parameter arrays, pure codegen."""
    vmin_arr = F.array(*[F.lit(float(v)) for v in vmin])
    step_arr = F.array(*[F.lit(float(v)) for v in step])
    idx = F.transform(vec, lambda x, i: F.least(
        F.greatest(
            F.floor((x - F.element_at(vmin_arr, i + 1)) / F.element_at(step_arr, i + 1) + F.lit(0.5)),
            F.lit(0).cast("bigint"),
        ),
        F.lit(levels).cast("bigint"),
    ).cast("bigint"))
    return idx


def sq_encode(df: DataFrame, vmin: list, step: list, vec_col: str = "embedding",
              bits: int = 8, out_col: str = "sq_codes") -> DataFrame:
    """Attach per-row SQ codes (array<bigint>, one per dimension): the
    corpus shrinks from d floats to d small ints, and — unlike pq_encode's
    Arrow pass — the WHOLE encode is native transform-HOF codegen: no
    Python workers anywhere in the compression path."""
    levels = (1 << bits) - 1
    return df.withColumn(out_col, _sq_code_expr(V.as_double(F.col(vec_col)), vmin, step, levels))


def sq_topk(query_vec, encoded: DataFrame, vmin: list, step: list, k: int = 10,
            bits: int = 8, id_col: str = "vec_id", codes_col: str = "sq_codes") -> DataFrame:
    """Symmetric SQ distance top-k: the query is quantized driver-side with
    the same (vmin, step) model; each row's score is the integer squared
    distance between code vectors — one zip_with/aggregate in codegen —
    and the global top-k compiles to TakeOrderedAndProject. Integer-exact
    given the codes, so an oracle replays it bit-for-bit. Deterministic
    ties by id; null-codes rows excluded."""
    levels = (1 << bits) - 1
    q = np.asarray(list(query_vec), dtype=np.float64)
    qcodes = np.clip(
        np.floor((q - np.asarray(vmin)) / np.asarray(step) + 0.5), 0, levels
    ).astype(np.int64)
    qlit = F.array(*[F.lit(int(v)) for v in qcodes])
    dist = F.aggregate(
        F.zip_with(F.col(codes_col), qlit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return (
        encoded.filter(F.col(codes_col).isNotNull())
        .select(id_col, dist.cast("bigint").alias("sq_dist"))
        .orderBy(F.col("sq_dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


# -- versioned store: retrain-and-swap (the ANN lifecycle's last ops piece) ----


# The versions are the protocol of sycamore_spark/store.py.
ann_store_versions = store.versions
ann_store_current_dir = store.current_dir
ann_store_vacuum = store.vacuum


def ann_store_publish(
    spark, root: str, encoded: DataFrame, cell_col: str = "cell_id"
) -> int:
    """Publish ``encoded`` as the store's next committed version
    (``store.publish``), partitioned by ``cell_col`` with one file per
    cell directory (the compact layout). Returns the new version number."""
    return store.publish(spark, root, encoded.repartition(F.col(cell_col)), cell_col)


def ann_reindex(
    spark,
    root: str,
    corpus: DataFrame,
    batch: DataFrame,
    centroids: list,
    codebooks: list,
    kl_threshold_nanos: int,
    train_fn=None,
    sample_by: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell_id",
    codes_col: str = "pq_codes",
    scale: float = 1024.0,
    ncells: int = 8,
    m: int = 8,
    subk: int = 16,
    seed: int = 7,
    sample: int = 10_000,
) -> dict:
    """Drift-triggered RETRAIN-AND-SWAP — the last ANN-lifecycle ops piece
    after compact (layout debt), upsert (content delta), and the drift
    monitor (model debt): measure cell-occupancy drift between the CURRENT
    store and ``batch`` encoded under the current model
    (``categorical_divergence`` over ``cell_col`` — one conditional-count
    hash agg + a one-row reduce, kilobytes at any corpus size); when
    ``max(KL_ab, KL_ba)`` exceeds ``kl_threshold_nanos``, retrain
    (``train_fn(corpus) -> (centroids, codebooks)``; default
    ``ivf_pq_train`` with ``sample_by`` REQUIRED — a reindex triggered by
    distribution drift must not prefix-sample the very corpus whose
    distribution moved), re-encode ``corpus`` with the new model, publish
    it as the next store version, and atomically commit. Old versions stay
    readable for concurrent queries until ``ann_store_vacuum``.

    Returns ``{"retrained", "kl_ab_nanos", "kl_ba_nanos", "version"}``
    (``version`` = the new number, or the current one when under
    threshold).

    100 TB shape: drift is aggregate-only; the retrain reads a bounded
    hash-spread sample; the re-encode is ONE Arrow pass over the corpus +
    one hash shuffle on the cell column for the compact layout — the same
    cost as the initial build, paid only when the monitor fires."""
    from sycamore_spark.operators.profiling import categorical_divergence

    cur_dir = ann_store_current_dir(spark, root)
    cur_ver = int(cur_dir.rsplit("v=", 1)[1])
    store = spark.read.parquet(cur_dir)
    batch_enc = ivf_pq_encode(
        batch, centroids, codebooks, vec_col=vec_col, scale=scale,
        cell_col=cell_col, codes_col=codes_col,
    )
    kl = categorical_divergence(store, batch_enc, cell_col).collect()[0]
    out = {
        "retrained": False,
        "kl_ab_nanos": int(kl["kl_ab_nanos"]),
        "kl_ba_nanos": int(kl["kl_ba_nanos"]),
        "version": cur_ver,
    }
    if max(out["kl_ab_nanos"], out["kl_ba_nanos"]) <= kl_threshold_nanos:
        return out
    if train_fn is None:
        if sample_by is None:
            raise ValueError(
                "ann_reindex needs sample_by= (or an explicit train_fn): "
                "retraining after distribution drift must sample the whole "
                "corpus, not a prefix slice"
            )
        new_c, new_b = ivf_pq_train(
            corpus, vec_col=vec_col, ncells=ncells, m=m, subk=subk,
            sample=sample, seed=seed, scale=scale, sample_by=sample_by,
        )
    else:
        new_c, new_b = train_fn(corpus)
    enc = ivf_pq_encode(
        corpus, new_c, new_b, vec_col=vec_col, scale=scale,
        cell_col=cell_col, codes_col=codes_col,
    ).select(id_col, codes_col, cell_col)
    out["version"] = ann_store_publish(spark, root, enc, cell_col=cell_col)
    out["retrained"] = True
    out["centroids"], out["codebooks"] = new_c, new_b
    return out
