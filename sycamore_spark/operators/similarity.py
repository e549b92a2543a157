"""Nearest-neighbor search over embedding columns.

Reference parity: ``QueryVectorDatabase`` delegates kNN to OpenSearch
(reference: lib/sycamore/sycamore/query/operators/query_database.py;
physical sycamore_operator.py:194). Here retrieval is an in-engine operator:

- ``brute_force_topk`` — exact baseline: the (small) query set ships to
  every corpus partition as a numpy matrix, each Arrow batch keeps its
  local top-k per query, and one per-query window ranks the survivors.
- ``ivf_topk`` — k-means cells (seeded numpy k-means on a bounded driver
  sample, one Arrow pass to assign the corpus), each query scored only
  within its ``nprobe`` nearest cells: the scan drops by ~ncells/nprobe.
- ``pq_*`` / ``ivf_pq_*`` — product quantization and IVF-PQ: integer-exact
  codes, and one query path (``_adc_scored``) that routes each query to
  its probed cells and scores their rows by ADC lookups in native codegen;
  top-k, batch top-k, exact re-ranking and radius search only cut its
  scored frame differently. ``ann_store_*`` / ``ann_reindex`` maintain
  the cell-partitioned store.
- ``sq_*`` — 8-bit scalar quantization, encode and search in pure codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
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
    (``ivf_topk``, ``dedup.embedding_near_dup_pairs_lsh``). A duplicate
    query id, a NULL query vector or a NULL element raises ``ValueError``
    (``_collect_queries``, shared with the IVF-PQ batch searches).

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
    q_rows = _collect_queries(
        queries, query_id, query_vec, max_queries, "brute_force_topk",
        "Chunk the query set or use ivf_topk / the LSH near-dup path for "
        "corpus-sized query sets.",
    )
    if not q_rows:
        return local_frame(queries.sparkSession, [], out_type)
    qids = [qid for qid, _ in q_rows]
    Q = np.array([v for _, v in q_rows], dtype=np.float64)
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
    out_schema = StructType([f for f in out_type.fields if f.name != "rank"])

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
    Xq = _quantize(X, scale).astype(float)
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
    zero shuffle; the corpus shrinks from d floats to m bytes per row.
    This is ``ivf_pq_encode`` with one all-zero cell, whose residual is
    the vector itself."""
    enc = ivf_pq_encode(
        df.drop(out_col), _zero_cell(codebooks), codebooks, vec_col, scale, _PQ_CELL, out_col
    )
    return enc.select(*df.columns, *([] if out_col in df.columns else [out_col]))


def pq_topk(
    query_vec,
    encoded: DataFrame,
    codebooks: list,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    scale: float = 1024.0,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: ``ivf_pq_topk`` with
    one all-zero cell, so the query's lookup table (int64 sqdist of each
    subvector to each centroid) is built driver-side and inlined as a
    literal, each row's score is m element_at lookups + an integer sum —
    native codegen, no UDF — and the global top-k compiles to
    TakeOrderedAndProject. Deterministic ties by id; rows without codes
    (null embeddings) are excluded."""
    return ivf_pq_topk(
        query_vec, encoded.withColumn(_PQ_CELL, F.lit(0)), _zero_cell(codebooks),
        codebooks, k, 1, id_col, _PQ_CELL, codes_col, scale,
    )


# The single cell of plain PQ: an all-zero centroid, so residual == vector.
_PQ_CELL = "__pq_cell"


def _zero_cell(codebooks: list) -> list:
    return [[0] * sum(len(b[0]) for b in codebooks)]


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
    Xq = _quantize(X, scale)
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
                x = _quantize(v, scale)
                c = int(((C - x) ** 2).sum(axis=1).argmin())
                r = x - C[c]
                cells.append(c)
                codes_out.append([
                    int(((b - r[s * sub:(s + 1) * sub]) ** 2).sum(axis=1).argmin())
                    for s, b in enumerate(B)
                ])
            pdf = pdf.copy()
            pdf[cell_col] = pd.array(cells, dtype="Int32")
            pdf[codes_col] = pd.Series(codes_out, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


# -- the IVF-PQ query path ----------------------------------------------------
#
# Every PQ search entry point, ``pq_topk`` included, builds its scored
# frame with ``_adc_scored`` and differs only in how it cuts that frame.


def _quantize(v, scale: float) -> np.ndarray:
    """floor(x*scale+0.5) as int64: the integer space of every PQ model,
    code and ADC distance (so all of them replay exactly in SQL)."""
    return np.floor(np.asarray(v, dtype=float) * scale + 0.5).astype(np.int64)


def _check_query(qid, v, dim: int | None = None) -> None:
    """Reject a query vector that cannot be scored, naming the query: a
    NULL vector or element would quantize to garbage (or overflow inside
    Spark), and a vector of another length than the model's cannot be
    routed. ``qid=None`` is a single-vector search."""
    if v is None:
        problem = "is NULL"
    elif None in v:
        problem = "has a NULL element"
    elif dim is not None and len(v) != dim:
        problem = f"has {len(v)} elements, the model has {dim}"
    else:
        return
    raise ValueError(f"query vector{'' if qid is None else f' of query id {qid!r}'} {problem}")


def _collect_queries(
    queries: DataFrame, query_id: str, query_vec: str, max_queries: int, who: str,
    hint: str = "Chunk the query set.",
) -> list:
    """The query frame as [(qid, vector)], collected in one bounded job
    (the ``brute_force_topk`` contract). A duplicate query id raises: it
    would score every probed row twice and fill the top-k with repeated
    ids. So does a NULL vector or element (``_check_query``)."""
    rows = collect_bounded(
        queries.select(F.col(query_id).alias("_qid"), V.as_double(F.col(query_vec)).alias("_qv")),
        max_queries,
        f"{who} collects the query side to the driver; got >{max_queries} "
        f"query rows (max_queries={max_queries}). {hint}",
    )
    seen = set()
    for qid, v in rows:
        if qid in seen:
            raise ValueError(f"duplicate query id {qid!r} in the query set")
        seen.add(qid)
        _check_query(qid, v)
    return rows


def _bigints(values) -> Column:
    """An array<bigint> literal parsed from one SQL string: one call into
    the JVM, where a ``F.lit`` per element costs a round trip each."""
    return F.expr(f"array({', '.join(f'{int(v)}L' for v in values)})")


def _adc_scored(
    encoded: DataFrame, q_rows: list, qid_type: str | None, centroids: list,
    codebooks: list, nprobe: int, id_col: str, cell_col: str, codes_col: str,
    scale: float, prefilter=None, vec_col: str | None = None,
) -> DataFrame:
    """The IVF-PQ probe builder and ADC scorer behind every PQ search.

    Driver side, per query of ``q_rows`` ([(qid, vector)]): quantize, route
    to the ``nprobe`` nearest cells (stable sort: ties go to the lower
    cell) and build one flat LUT per probed cell — int64 sqdist of the
    query's residual in that cell to every codebook centroid, subspace
    blocks concatenated. Scan side: rows of the probed cells (a static
    list, so a partitionBy(cell) store prunes at file listing) with codes
    that pass ``prefilter``; each scores as m ``element_at`` lookups at
    cumulative block offsets (codebook lengths may differ per subspace)
    plus an integer sum, all native codegen. The LUT reaches the rows
    from a LocalRelation probe table broadcast-joined on the cell for a
    query frame of several queries (``qid_type`` = the query id's DDL
    type), or from a literal cell -> LUT map for one vector
    (``qid_type=None``: a single-vector search, or a batch search that
    collected one query, see ``_pooled``), where a broadcast would cost
    the search a second job.

    Returns ``([_qid,] id_col, adc_dist[, _v, _qq])``: ``_qid`` for a query
    frame; with ``vec_col`` the row's vector ``_v`` and the quantized
    query ``_qq`` for ``_exact_dist``."""
    C = np.array(centroids, dtype=np.int64)
    B = [np.array(b, dtype=np.int64) for b in codebooks]
    sub = _uniform_subdim(B)
    probes = []  # (qid, cell, flat LUT, quantized query)
    for qid, v in q_rows:
        _check_query(qid, v, C.shape[1])
        q = _quantize(v, scale)
        for c in np.argsort(((C - q) ** 2).sum(axis=1), kind="stable")[:nprobe]:
            r = q - C[c]
            lut = np.concatenate(
                [((b - r[s * sub:(s + 1) * sub]) ** 2).sum(axis=1) for s, b in enumerate(B)]
            )
            probes.append((qid, int(c), lut.tolist(), q.tolist()))
    cells = sorted({c for _, c, _, _ in probes})
    rows = encoded.filter(
        (F.col(cell_col).isin(cells) if cells else F.lit(False))
        & F.col(codes_col).isNotNull()
        & (prefilter if prefilter is not None else F.lit(True))
    )
    if qid_type is None:
        # its own projection: one map lookup per row, one map literal per plan
        cell_luts = F.create_map(*[x for _, c, t, _ in probes for x in (F.lit(c), _bigints(t))])
        rows = rows.withColumn("_lut", F.element_at(cell_luts, F.col(cell_col).cast("int")))
        head, qq = [], (_bigints(q) if vec_col else None)  # q: the one query
    else:
        ddl = f"_qid {qid_type}, {cell_col} int, _lut array<bigint>"
        if vec_col:
            ddl += ", _qq array<bigint>"
        table = local_frame(encoded.sparkSession, [p if vec_col else p[:3] for p in probes], ddl)
        rows = rows.join(F.broadcast(table), cell_col)
        head, qq = ["_qid"], F.col("_qq")
    adc, offset = None, 0
    for s, b in enumerate(B):
        term = F.element_at(F.col("_lut"), F.lit(offset) + F.col(codes_col)[s] + 1)
        adc = term if adc is None else adc + term
        offset += len(b)
    refine = [F.col(vec_col).alias("_v"), qq.alias("_qq")] if vec_col else []
    return rows.select(*head, id_col, adc.cast("bigint").alias("adc_dist"), *refine)


def _exact_dist(scale: float) -> Column:
    """Exact squared L2 between ``_v``, quantized like the query, and the
    quantized query ``_qq``: zip_with/aggregate over int64, native codegen."""
    xq = F.transform(
        V.as_double(F.col("_v")),
        lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("bigint"),
    )
    return F.aggregate(
        F.zip_with(xq, F.col("_qq"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    ).alias("exact_dist")


def _ranked(scored: DataFrame, k: int, by: str, id_col: str, rank_col: str = "rank") -> DataFrame:
    """The first ``k`` rows per ``_qid`` by (``by``, id): one rank window."""
    w = Window.partitionBy("_qid").orderBy(F.col(by).asc(), F.col(id_col).asc())
    return scored.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def _pooled(
    encoded: DataFrame, q_rows: list, qid_type: str, n: int, rank_col: str, centroids: list,
    codebooks: list, nprobe: int, id_col: str, cell_col: str, codes_col: str, scale: float,
    prefilter=None, vec_col: str | None = None,
) -> DataFrame:
    """The first ``n`` scored rows of each query of ``q_rows`` by
    (adc_dist, id), ranked in ``rank_col``: the cut of every batch search.

    Several queries score through the broadcast probe table and rank in
    one window. One query takes the single-vector plan instead: the
    literal cell -> LUT map, then a TakeOrderedAndProject (each partition's
    first ``n``, merged in one partition), with the query id as a ``_qid``
    literal of type ``qid_type``. Its window then ranks at most ``n`` rows
    without a shuffle, so the search runs no broadcast and no shuffle."""
    one = len(q_rows) == 1
    scored = _adc_scored(
        encoded, q_rows, None if one else qid_type, centroids, codebooks, nprobe,
        id_col, cell_col, codes_col, scale, prefilter, vec_col,
    )
    if one:
        scored = (
            scored.orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
            .limit(n)
            .withColumn("_qid", F.lit(q_rows[0][0]).cast(qid_type))
        )
    return _ranked(scored, n, "adc_dist", id_col, rank_col)


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
    composed IVF-PQ search: ``_adc_scored`` routes the query and scores
    the probed cells' rows from a literal cell -> LUT map in native
    codegen, and the global top-k compiles to TakeOrderedAndProject.
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
    return (
        _adc_scored(
            encoded, [(None, query_vec)], None, centroids, codebooks, nprobe,
            id_col, cell_col, codes_col, scale, prefilter,
        )
        .orderBy(F.col("adc_dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


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
    return _adc_scored(
        encoded, [(None, query_vec)], None, centroids, codebooks, nprobe,
        id_col, cell_col, codes_col, scale, prefilter,
    ).filter(F.col("adc_dist") <= int(radius))


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
    ``max_queries``); each query's routing and per-cell LUTs (m*subk
    int64 per probed cell) ship back as a small (query, cell, flat-LUT)
    table that BROADCAST-joins the encoded corpus on cell_id, and the
    per-query top-k is one rank window over the probed cells' rows.
    A frame holding ONE query (the interactive serving case) takes the
    single-vector plan instead (``_pooled``): the literal cell -> LUT map
    and a TakeOrderedAndProject, then the rank window over at most ``k``
    rows. Same rows, columns and types, in two jobs (the collect and the
    search) instead of four: no probe broadcast, no rank shuffle.

    Returns (query_id, id_col, rank, adc_dist); deterministic ties by id;
    rows with null codes are excluded. Integer-exact, so a SQL oracle
    replays it bit-for-bit. ``prefilter`` (optional Column over the
    encoded corpus) is filtered vector search, same contract as
    ``ivf_pq_topk``: conjoined before scoring so it pushes into the scan
    and the per-query top-k is exact over qualifying rows."""
    return _pooled(
        encoded,
        _collect_queries(queries, query_id, query_vec, max_queries, "ivf_pq_topk_multi"),
        queries.schema[query_id].dataType.simpleString(), k, "rank", centroids, codebooks,
        nprobe, id_col, cell_col, codes_col, scale, prefilter,
    ).select(F.col("_qid").alias(query_id), id_col, "rank", "adc_dist")


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
    pool = (
        _adc_scored(
            encoded, [(None, query_vec)], None, centroids, codebooks, nprobe,
            id_col, cell_col, codes_col, scale, vec_col=vec_col,
        )
        .orderBy(F.col("adc_dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(refine * k)
    )
    return (
        pool.select(id_col, "adc_dist", _exact_dist(scale))
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

    Shape: the broadcast probe table also carries each query's quantized
    vector; the pool cut and the exact re-rank are TWO rank windows over
    the SAME query-id partitioning (one shuffle — Catalyst reuses the
    exchange), and the exact distance is zip_with/aggregate int64 codegen
    on refine*k rows per query. Integer-exact end to end.

    Returns (query_id, id_col, rank, adc_dist, exact_dist); ties by id;
    ``prefilter`` as in ``ivf_pq_topk_multi``."""
    pool = _pooled(
        encoded,
        _collect_queries(queries, query_id, query_vec, max_queries, "ivf_pq_refine_multi"),
        queries.schema[query_id].dataType.simpleString(), refine * k, "_r", centroids, codebooks,
        nprobe, id_col, cell_col, codes_col, scale, prefilter, vec_col,
    )
    return _ranked(
        pool.select("_qid", id_col, "adc_dist", _exact_dist(scale)), k, "exact_dist", id_col
    ).select(F.col("_qid").alias(query_id), id_col, "rank", "adc_dist", "exact_dist")


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
    column-pruned scan of the store, filtered by the delta ids) plus the
    new cells of the encoded upserts; their rows are rewritten as (old
    minus delta ids) union (encoded upserts) via dynamic partition
    overwrite, and a cell whose last row was deleted has its directory
    removed explicitly (dynamic overwrite cannot write an empty partition
    — without this the stale files would survive). Returns the touched-cell count. The
    steps are ``functions.partitioning.fold_touched_buckets``; unlike the
    postings and norms folds, a missing store is an error here.

    Scale contract: the delta ids are collected to the driver
    (batch-sized, the CDC contract — streaming/cdc.py
    maintain_snapshot_stream is the same shape over generic buckets) and
    go back into the plan as a literal id list; work and rewrite volume
    are ∝ touched cells, never the store. Store rows outside
    ``(id, codes, cell)`` plus whatever extra columns the delta carries
    must agree by name for the union. The merged rows are lineage-cut
    before the overwrite (the write replaces the very files the plan
    reads).

    A delta must carry each id at most ONCE: the same id twice (e.g. two
    U rows) would drop the old row once but add BOTH encoded rows,
    silently leaving duplicate vectors in the store — rejected loudly
    before any file changes, by a driver-side count over the collected
    ids (callers with multi-event feeds collapse to a last-writer row
    first, as streaming/cdc.py does via seq_col).

    The delta is lineage-cut on entry (lazily — the delta probe is the
    first action and materializes it), and so are the encoded upserts:
    the probe runs the encode, a Python stage, once and the merge reads
    its cut, so a delta whose upstream is an expensive re-embed (the
    embed-CDC path) is computed once. ``prepared=True`` asserts the
    caller already cut the delta (multi-store fold callers) and skips
    only the entry cut; the duplicate-id check runs either way, and an
    un-checkpointed non-deterministic delta can diverge between the
    probe and the merge."""
    from sycamore_spark.functions.partitioning import fold_touched_buckets

    current = store.read_parquet(spark, store_dir)  # a missing store is an error
    return fold_touched_buckets(
        store_dir,
        current,
        changes,
        lambda ups: ivf_pq_encode(
            ups, centroids, codebooks, vec_col=vec_col, scale=scale,
            cell_col=cell_col, codes_col=codes_col,
        ).select(*current.columns),
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
    current = store.read_parquet(spark, cur_dir)
    batch_enc = ivf_pq_encode(
        batch, centroids, codebooks, vec_col=vec_col, scale=scale,
        cell_col=cell_col, codes_col=codes_col,
    )
    kl = categorical_divergence(current, batch_enc, cell_col).collect()[0]
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
