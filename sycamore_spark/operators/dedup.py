"""Deduplication operators for large-scale training-data pipelines.

Reference parity: ``SketchUniquify`` near-dup removal via shingles/simhash
(reference: lib/sycamore/sycamore/transforms/sketcher.py:29-110,
functions/simhash.py:84-204) — re-expressed as distributed Spark plans.

Every pair operator here follows the same scale shape:
  1. per-row signature computation — pure native expressions, no shuffle;
  2. candidate generation — ONE equi-join shuffle on a blocking key
     (band hash / bit chunk / inverted-index token), never an O(n²)
     cross join;
  3. exact verification on the (small) candidate set.

That shape is what survives 100 TB: the only quadratic step runs within
blocks, and skewed blocking keys (stop-shingles) are dropped by frequency
capping before the join.

The shape is spelled once, in the pair core every pair operator (and
``sketcher.rolling_sketch_pairs``) calls: ``_item_set``/``_hashed_set``
(the distinct tokens or word n-grams of a text, and their sorted
xxhash64 form; NULL text has no items), ``_prefix_candidates`` (the
rarest-first prefix filter), ``_band_keys`` (MinHash banding),
``_blocked_pairs`` (the candidate equi-join), ``_candidate_sets`` (item
sets built only for candidate docs), ``_verified`` (the verify join,
keep predicate and 6-place rounding) and ``_larger_ids`` (what a
keep-lowest-id dedup drops). Each operator keeps only its signature and
its metric.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sycamore_spark.functions import text as T
from sycamore_spark.functions import vectors as V


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id row per normalized-text fingerprint.

    One hash-aggregate shuffle on the md5 fingerprint; with map-side partial
    aggregation this is the cheapest possible global dedup.
    Returns (id_col, fingerprint, dup_count).
    """
    fp = T.fingerprint(F.col(text_col)).alias("fingerprint")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .select(id_col, "fingerprint", "dup_count")
    )


# ---------------------------------------------------------------------------
# Pair core: item sets, prefix filter, band keys, blocked join, verify join
# ---------------------------------------------------------------------------

def _item_set(text: Column, ngram: int = 1) -> Column:
    """The distinct tokens (``ngram`` 1) or word n-grams of ``text``.

    NULL text has no items: the set is NULL, never ``[NULL]`` (which is
    what ``word_shingles`` makes of a NULL text). A NULL set explodes to
    no postings, and ``_candidate_sets`` drops it, so a NULL-text doc is
    never verified — with ANSI off ``size(NULL)`` is -1, and two NULL
    sets would otherwise score -1/-1 = 1.0."""
    items = T.tokens(text) if ngram == 1 else T.word_shingles(text, k=ngram)
    return F.when(text.isNotNull(), F.array_distinct(items))


def _hashed_set(text: Column, ngram: int = 1) -> Column:
    """``_item_set`` as a sorted xxhash64 array: the joins only test
    equality, and 8-byte keys shrink every shuffle vs raw strings
    (collision odds across a corpus vocabulary are ~|V|^2/2^65)."""
    return F.array_sort(F.transform(_item_set(text, ngram), lambda t: F.xxhash64(t)))


def _band_keys(sig: Column, bands: int, rows: int) -> Column:
    """MinHash banding: one (band, bucket) struct per band, the bucket
    hashing that band's ``rows`` signature values. Docs sharing any
    (band, bucket) are LSH candidates."""
    return F.array(*[
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(*[sig[bi * rows + r] for r in range(rows)]).alias("bucket"),
        )
        for bi in range(bands)
    ])


def _blocked_pairs(a: DataFrame, b: DataFrame, keys, directed: bool = False,
                   on: Column | None = None, carry=()) -> DataFrame:
    """The candidate join: rows of ``a`` and ``b`` (each an ``_id`` plus
    the ``keys`` columns) that agree on every key, with ``a._id < b._id``
    (``!=`` when ``directed``) and the optional extra predicate ``on`` —
    one equi-join shuffle. Returns distinct ``(id_a, id_b)`` plus the
    ``carry`` columns; ``on`` and ``carry`` are expressions over the
    ``a``/``b`` aliases."""
    ia, ib = F.col("a._id"), F.col("b._id")
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys],
        (ia != ib) if directed else (ia < ib),
    )
    if on is not None:
        cond = cond & on
    return (
        a.alias("a").join(b.alias("b"), cond)
        .select(ia.alias("id_a"), ib.alias("id_b"), *carry)
        .distinct()
    )


def _prefix_candidates(sets: DataFrame, t: float, directed: bool) -> DataFrame:
    """Candidate pairs of the (``_id``, ``_v``) hashed sets by exact prefix
    filtering (AllPairs / PPJoin): under ANY global token order shared
    by all docs, an overlap >= ceil(t*|A|) forces B to hit one of A's
    first |A|-ceil(t*|A|)+1 tokens (otherwise the whole intersection fits
    in the last ceil(t*|A|)-1). Ordering tokens RAREST-FIRST makes those
    prefix tokens the low-frequency ones, so the candidate join
    multiplies short posting lists — the difference between O(sum f^2)
    over every token and over only the rare ones. Exactness is
    preserved: prefix only generates CANDIDATES; the caller verifies
    every pair with the true intersection.

    Directed (containment) pairs are (A, B) with A != B. Undirected
    (jaccard) pairs test only id_a < id_b — jaccard >= t gives
    |A ∩ B| >= t*max(|A|, |B|), so EACH side's prefix hits the other —
    and add jaccard's length filter: |B| in [t*|A|, |A|/t]."""
    from pyspark.sql.window import Window

    posting = sets.select("_id", F.explode("_v").alias("_tok"))
    tok_df = posting.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("_tok").asc())
    ranked = posting.join(tok_df, "_tok").withColumn("_r", F.row_number().over(w))
    sizes = sets.select("_id", F.size("_v").alias("_n"))
    k = F.col("_n") - F.ceil(F.lit(t) * F.col("_n")) + 1
    pref = ranked.join(sizes, "_id").filter(F.col("_r") <= k).select("_id", "_tok", "_n")
    if directed:
        return _blocked_pairs(pref, posting, ["_tok"], directed=True)
    ratio = (F.col("b._n") >= F.ceil(F.lit(t) * F.col("a._n"))) & (
        F.col("b._n") * F.lit(t) <= F.col("a._n")
    )
    return _blocked_pairs(pref, posting.join(sizes, "_id"), ["_tok"], on=ratio)


def _candidate_sets(df: DataFrame, cand: DataFrame, id_col: str, items: Column) -> DataFrame:
    """The persisted (``_id``, ``_v``) item sets of only the docs in some
    candidate pair: at scale candidates are a tiny fraction of the
    corpus, so the set build must not run over every row. Persisted
    because ``_verified`` reads it from BOTH sides of the pair join
    (different join keys, so AQE exchange reuse can't kick in); bounded
    by the candidate set and LRU-evictable. Docs with no items (NULL
    text) are dropped, so they never verify."""
    cand_ids = (
        cand.select(F.col("id_a").alias("_cid"))
        .union(cand.select(F.col("id_b")))
        .distinct()
    )
    # No broadcast hint: on template-heavy corpora the candidate-id set is
    # corpus-scale (~13M ids at sf0.1, PERF.md), and a forced broadcast
    # would blow the driver/executor broadcast limits at 100 TB. AQE picks
    # the strategy (broadcast when small, shuffled semi when not).
    relevant = df.join(cand_ids, df[id_col] == F.col("_cid"), "left_semi")
    return (
        relevant.select(F.col(id_col).alias("_id"), items.alias("_v"))
        .filter(F.col("_v").isNotNull())
        .persist()
    )


def _verified(cand: DataFrame | None, sides: DataFrame, metric: Column, keep,
              name: str) -> DataFrame:
    """Exact verification: joins each candidate pair (``id_a``, ``id_b``)
    to both sides' ``_v`` values of ``sides`` (as ``_va``, ``_vb``),
    computes ``metric`` over them, keeps the pairs where ``keep(metric)``
    holds and rounds the metric to 6 places as ``name``. ``cand`` None
    verifies every pair id_a < id_b (the brute-force baseline)."""
    va = sides.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = sides.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    if cand is None:
        pairs = va.join(vb, F.col("id_a") < F.col("id_b"))
    else:
        pairs = cand.join(va, "id_a").join(vb, "id_b")
    return (
        pairs.withColumn(name, metric)
        .filter(keep(F.col(name)))
        .select("id_a", "id_b", F.round(name, 6).alias(name))
    )


def _overlap() -> Column:
    """|A ∩ B| of the two sides of a ``_verified`` pair."""
    return F.size(F.array_intersect(F.col("_va"), F.col("_vb")))


def _larger_ids(pairs: DataFrame, id_col: str) -> DataFrame:
    """The larger id of every (``id_a`` < ``id_b``) pair, distinct, as
    ``id_col``: the rows a keep-the-lowest-id dedup drops."""
    return pairs.select(F.col("id_b").alias(id_col)).distinct()


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact, inverted-index join)
# ---------------------------------------------------------------------------

def jaccard_similar_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    ngram: int = 1,
    max_token_doc_freq: float | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs over token (or word-n-gram) sets.

    Inverted-index self-join: explode distinct tokens, join on token, count
    intersections, compute |A∪B| from per-doc set sizes. The join key is the
    token — O(sum of postings²) per token, so ``max_token_doc_freq`` drops
    ubiquitous tokens (stopword-like) that would otherwise create quadratic
    skew at scale; exactness is preserved only when it is None.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    sets = df.select(F.col(id_col).alias("_id"), _hashed_set(F.col(text_col), ngram).alias("_v"))
    if max_token_doc_freq is not None:
        cap = int(max_token_doc_freq * df.count())
        posting = sets.select("_id", F.explode("_v").alias("_tok"))
        hot = posting.groupBy("_tok").count().filter(F.col("count") > cap).select("_tok")
        sets = (
            posting.join(F.broadcast(hot), "_tok", "left_anti")
            .groupBy("_id").agg(F.array_sort(F.collect_list("_tok")).alias("_v"))
        )
    inter = _overlap()
    jac = inter / (F.size("_va") + F.size("_vb") - inter)
    cand = _prefix_candidates(sets, float(threshold), directed=False)
    return _verified(cand, sets, jac, lambda j: j >= threshold, "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature_col(text_col, num_perm: int = 64, shingle_k: int = 3,
                          seed: int = 1):
    """MinHash signature as a per-row COLUMN, zero shuffle: each shingle
    is hashed ONCE (JVM xxhash64), and the ``num_perm`` permutations are
    seeded multiply-shift universal hashes ``a_i*h + b_i (mod 2^64)``
    computed as one wrapped numpy kernel per document — the standard
    minhash construction (one strong base hash + cheap pairwise-
    independent permutations). The earlier form evaluated xxhash64 per
    (shingle x perm): 64x the hashing work, and as a HOF fold it also ran
    interpreted. Signature VALUES differ from that form, but minhash
    semantics (pairwise collision probability = Jaccard) depend only on
    the permutation family, and LSH pairs are always verified with exact
    Jaccard downstream."""
    import random

    from pyspark.sql.types import ArrayType, LongType

    rng = random.Random(seed)
    A = np.array([rng.randrange(1, 1 << 64, 2) for _ in range(num_perm)], dtype=np.uint64)
    B = np.array([rng.randrange(0, 1 << 64) for _ in range(num_perm)], dtype=np.uint64)
    empty_sig = np.full(num_perm, np.iinfo(np.int64).max, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _mins(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            if h is None or len(h) == 0:
                out.append(empty_sig)
                continue
            hv = np.asarray(h, dtype=np.int64).view(np.uint64)
            with np.errstate(over="ignore"):
                m = hv[:, None] * A + B  # uint64 wraparound is the mod
            out.append(m.min(axis=0).view(np.int64))
        return pd.Series(out)

    text = F.col(text_col) if isinstance(text_col, str) else text_col
    return _mins(T.word_shingle_hashes(text, k=shingle_k))


def minhash_signature(df: DataFrame, id_col: str, text_col: str, num_perm: int = 64,
                      shingle_k: int = 3, seed: int = 1) -> DataFrame:
    """(id, signature) frame view of ``minhash_signature_col``."""
    return df.select(
        F.col(id_col).alias("_id"),
        minhash_signature_col(text_col, num_perm, shingle_k, seed).alias("_sig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified with exact shingle Jaccard.

    banding: num_perm/bands rows per band; docs sharing any band bucket are
    candidates (one equi-join shuffle on (band, bucket_hash)); candidates are
    then verified with exact Jaccard over shingle sets so the output has no
    false positives — LSH only bounds recall.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    # persist: the signature is read by banding, which references _sig once
    # per band — projection collapse would otherwise re-inline the minhash
    # aggregation per reference.
    # NULL text has no shingles and never verifies (``_candidate_sets``
    # drops it), so it gets no band keys: otherwise every NULL-text doc
    # shares one signature and collides with every other in each band.
    sig = minhash_signature(
        df.filter(F.col(text_col).isNotNull()), id_col, text_col, num_perm, shingle_k
    ).persist()
    buckets = sig.select(
        "_id", F.explode(_band_keys(F.col("_sig"), bands, num_perm // bands)).alias("k")
    ).select("_id", "k.band", "k.bucket")
    # Candidates are persisted + materialized (they feed both the id filter
    # and the final join; a localCheckpoint would bypass AQE on the banding
    # join), then the signature cache — the big, corpus-wide one — is
    # released. The candidate and shingle-set caches stay: the returned
    # frame is lazy and reads both, so they cannot be released before the
    # caller runs it. Both are bounded by the candidate set and
    # LRU-evictable, and an identical later call (same input plan) finds
    # them by plan and skips the banding join and the shingling.
    cand = _blocked_pairs(buckets, buckets, ["band", "bucket"]).persist()
    cand.count()
    sig.unpersist()
    # exact Jaccard on shingle STRING sets, built only for candidate docs:
    # the (interpreted) string shingling must not run over every row
    shingle_sets = _candidate_sets(df, cand, id_col, _item_set(F.col(text_col), shingle_k))
    jac = _overlap() / F.size(F.array_union("_va", "_vb"))
    return _verified(cand, shingle_sets, jac, lambda j: j >= threshold, "jaccard")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def md5_hash60(t):
    """60-bit token hash replicable across engines: first 15 hex chars of
    md5 (DuckDB: ('0x'||substr(md5(t),1,15))::BIGINT). Slower than
    xxhash64 — use for oracle-checked runs; default stays xxhash64."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame, id_col: str, text_col: str, nbits: int = 64,
            hash_fn=None) -> DataFrame:
    """SimHash per row from distinct-token hashes: bit j of the signature =
    sign of sum over tokens of (+1/-1) at bit j of the token hash (xxhash64
    default). No shuffle. (reference: functions/simhash.py:84-204).

    Token hashing stays a native expression (so cross-engine oracle hash
    functions remain pluggable); the 64-bit vote is one Arrow-batched numpy
    kernel — as 64 per-bit ``aggregate`` folds it ran interpreted per
    (token x bit), the HOF-no-codegen trap. Pure integer arithmetic, so the
    result is bit-identical to the expression form in any order."""
    from pyspark.sql.types import LongType

    th = F.transform(_item_set(F.col(text_col)), hash_fn or (lambda t: F.xxhash64(t)))
    shifts = np.arange(nbits, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def _vote(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.uint64)
        for i, hs in enumerate(hashes):
            if hs is None or len(hs) == 0:
                continue
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            contrib = (bits * 2 - 1).sum(axis=0)
            out[i] = ((contrib > 0).astype(np.uint64) << shifts).sum()
        return pd.Series(out.view(np.int64))

    # the vote never returns NULL; coalesce says so to the optimizer, which
    # would otherwise push an inferred isnotnull(simhash) filter below the
    # projection as a second evaluation of the UDF
    vote = F.coalesce(_vote(th), F.lit(0).cast("long"))
    return df.select(F.col(id_col).alias("_id"), vote.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, nbits: int = 64, chunks: int = 4,
    hash_fn=None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the signature into ``chunks`` bit-chunks;
    any pair within distance < chunks shares at least one exact chunk, so an
    equi-join on (chunk_index, chunk_value) finds all candidates with one
    shuffle; verification is a native bit_count(xor). Requires
    max_hamming < chunks for completeness.
    Returns (id_a, id_b, hamming).
    """
    width = nbits // chunks
    mask = (1 << width) - 1
    # no cache: both sides of the blocking join read one exchange of the
    # chunk rows (AQE reuses it), so the vote still runs once per row and
    # no corpus-sized cache outlives the call. NULL text has no items
    # (``_item_set``), so it gets no chunk keys; as simhash 0 every two
    # NULL-text docs would pair at hamming 0.
    sig = simhash(df.filter(F.col(text_col).isNotNull()), id_col, text_col, nbits, hash_fn=hash_fn)
    chunk_structs = F.array(*[
        F.struct(
            F.lit(ci).alias("ci"),
            F.shiftright(F.col("simhash"), ci * width).bitwiseAND(F.lit(mask)).alias("cv"),
        )
        for ci in range(chunks)
    ])
    blocked = sig.select("_id", "simhash", F.explode(chunk_structs).alias("c")).select(
        "_id", "simhash", "c.ci", "c.cv"
    )
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return _blocked_pairs(
        blocked, blocked, ["ci", "cv"], on=ham <= max_hamming, carry=[ham.alias("hamming")]
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.99
) -> DataFrame:
    """Exact cosine near-dup pairs (brute-force; the correctness baseline).

    O(n²) — correct at test scale and the oracle for the LSH-blocked variant
    (``embedding_near_dup_pairs_lsh``), which is the 100 TB path.
    Returns (id_a, id_b, cosine rounded to 6dp).
    """
    vecs = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    cos = V.cosine(F.col("_va"), F.col("_vb"))
    return _verified(None, vecs, cos, lambda c: c >= threshold, "cosine")


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.99,
    nplanes: int = 16,
    ntables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH blocking + exact cosine verification.

    Signatures are sign-patterns against ``nplanes`` deterministic
    pseudo-random hyperplanes (``ntables`` independent tables); candidates
    share a full signature in at least one table. One equi-join shuffle on
    (table, signature); verified pairs carry exact cosine, so precision is
    exact and only recall depends on the LSH parameters.
    """
    import random

    from pyspark.sql.types import ArrayType, LongType

    rng = random.Random(seed)
    # All ntables*nplanes hyperplanes as one matrix: the per-row signature
    # set is a single Arrow-batched matmul instead of ntables*nplanes
    # fold expressions (which blow up codegen — 40s -> <2s at sf0.01).
    planes = np.array(
        [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(ntables * nplanes)]
    )
    weights = 1 << np.arange(nplanes, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _sigs(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy())  # (batch, dim)
        bits = (m @ planes.T > 0).reshape(len(m), ntables, nplanes)
        return pd.Series(list((bits * weights).sum(axis=2)))

    # Candidate generation carries only (id, t, sig) through the blocking
    # join — vectors would bloat the shuffle — and dedupes the pair set
    # BEFORE verification, so the exact cosine runs once per unique pair,
    # not once per (pair x colliding table).
    blocked = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_sigs(V.as_double(F.col(vec_col)))).alias("t", "sig"),
    )
    pairs = _blocked_pairs(blocked, blocked, ["t", "sig"])
    vecs = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    cos = V.cosine(F.col("_va"), F.col("_vb"))
    return _verified(pairs, vecs, cos, lambda c: c >= threshold, "cosine")


def duplicate_window_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    stride: int = 20,
    hash_fn=None,
) -> DataFrame:
    """Exact-substring duplication signal (the 'dedup training data at the
    substring level' measurement, window-granular so it distributes): slide
    a ``window``-char window at ``stride`` over each lowercased text, hash
    every window, and count how many of a doc's windows also occur in some
    OTHER document. Returns (id, n_windows, n_dup_windows, dup_fraction).

    Full suffix-array dedup is a single-machine algorithm; this is its
    scale-out surrogate: window hashes catch any shared substring of
    length >= window + stride - 1 (a run that long must contain a full
    aligned window... of the same phase), and in practice flags the
    copy-pasted boilerplate/quotation mass a corpus carries. Shape: one
    explode to (id, pos-hash) with 8-byte hashes, one hash agg for the
    cross-doc counts, one semi-join back (AQE picks broadcast only when the
    duplicate set fits) — no pairwise work.
    ``hash_fn`` defaults to md5_hash60 so a DuckDB oracle replays it
    exactly; production can pass xxhash64 for speed.
    """
    hash_fn = hash_fn or md5_hash60
    s = F.lower(F.col(text_col))
    n_win = F.greatest(
        F.floor((F.length(s) - window) / stride) + 1, F.lit(0)
    ).cast("int")

    def _win_hashes(sv):
        # let-bound sv: lowering inside the transform lambda would re-copy
        # the whole string per window (O(len^2/stride) on long docs)
        nw = F.greatest(
            F.floor((F.length(sv) - window) / stride) + 1, F.lit(0)
        ).cast("int")
        # guard: Spark's sequence(0, -1) DESCENDS instead of being empty, so
        # a doc shorter than the window must explicitly produce no windows
        idxs = F.when(nw > 0, F.sequence(F.lit(0), nw - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idxs, lambda i: hash_fn(F.substring(sv, i * stride + 1, window))
        )

    wins = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.flatten(F.transform(F.array(s), _win_hashes))).alias("_wh"),
    )
    # a hash is "duplicated" when it appears in more than one distinct doc
    dup = (
        wins.groupBy("_wh")
        .agg(F.count_distinct(F.col("_id")).alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("_wh")
    )
    # no broadcast hint: the cross-doc duplicate-window set scales with the
    # corpus's boilerplate mass (billions of rows on a 100 TB crawl), so a
    # forced broadcast OOMs; AQE broadcasts it when it actually fits
    marked = wins.join(dup, "_wh", "left_semi")
    per_doc_dup = marked.groupBy("_id").agg(F.count(F.lit(1)).alias("n_dup_windows"))
    base = df.select(F.col(id_col), n_win.alias("n_windows"))
    out = (
        base.join(per_doc_dup, base[id_col] == per_doc_dup["_id"], "left")
        .drop("_id")
        .withColumn("n_dup_windows", F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long"))
    )
    return out.select(
        id_col,
        F.col("n_windows").cast("long").alias("n_windows"),
        "n_dup_windows",
        F.when(F.col("n_windows") > 0, F.col("n_dup_windows") / F.col("n_windows"))
        .otherwise(F.lit(0.0))
        .alias("dup_fraction"),
    )


# ---------------------------------------------------------------------------
# Duplicate clusters: pairs -> connected components -> canonical keep-list
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components of the similarity graph: the stage that turns
    near-dup PAIRS (minhash/simhash/jaccard output) into duplicate CLUSTERS.
    Returns (node, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id reachable from it.

    Distributed min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels (one join + one min-agg per
    round), converging in O(graph diameter) rounds. Near-dup graphs are
    unions of dense cliques/stars (every member of a dup group pairs with
    most others), so the diameter is small — propagation converges in a
    handful of rounds where a generic web-graph would want the
    O(log n)-round large-star/small-star alternation. Lineage is truncated
    per round via ``lineage_cut``: pass ``checkpoint_dir`` (HDFS/S3A path)
    on a real cluster for a durable ``checkpoint()`` that survives executor
    loss; the default ``localCheckpoint`` is faster but executor-volatile
    (local mode / tests). Both paths return identical results.

    Convergence is detected distributively (an any-change semi-check per
    round, no label collection on the driver); node ids may be any
    orderable type — strings compare lexicographically.
    """
    from sycamore_spark.functions.partitioning import lineage_cut

    # materialize the edge set ONCE before symmetrizing — the union reads
    # it twice, and recomputing an expensive pair-generation lineage per
    # branch doubles the dominant cost of a dedup pipeline
    edges = lineage_cut(edges, checkpoint_dir)
    sym = (
        edges.select(F.col(src).alias("n"), F.col(dst).alias("m"))
        .union(edges.select(F.col(dst).alias("n"), F.col(src).alias("m")))
        .distinct()
    )
    sym = lineage_cut(sym, checkpoint_dir)
    comp = sym.groupBy("n").agg(F.min("m").alias("c")).select(
        "n", F.least(F.col("n"), F.col("c")).alias("c")
    )

    for _ in range(max_iterations):
        # neighbor labels: node n hears component c(m) from each neighbor m
        msgs = sym.join(comp.withColumnRenamed("n", "m"), "m").select("n", "c")
        new = lineage_cut(
            comp.union(msgs).groupBy("n").agg(F.min("c").alias("c")),
            checkpoint_dir,
        )
        changed = (
            new.join(comp.withColumnRenamed("c", "_old"), "n")
            .filter(F.col("c") != F.col("_old"))
            .limit(1)
            .isEmpty()
        )
        comp = new
        if changed:
            break
    return comp.select(F.col("n").alias("node"), F.col("c").alias("component"))


def canonical_docs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The dedup pipeline's final stage: given near-dup pairs, tag every
    document with its duplicate-cluster id and whether it is the cluster's
    canonical representative (the minimum id — deterministic, engine- and
    partitioning-independent). Docs in no pair are their own singleton
    cluster and always canonical. Filtering ``is_canonical`` yields the
    keep-list; the (doc -> component) map is the redirect table.

    Scale shape: components over the PAIR set only (tiny vs the corpus),
    then one join back onto the full table — the corpus itself never enters
    the iterative propagation.
    """
    cc = connected_components(pairs, src=src, dst=dst, checkpoint_dir=checkpoint_dir)
    out = df.join(cc, df[id_col] == cc["node"], "left").drop("node")
    comp = F.coalesce(F.col("component"), F.col(id_col))
    return (
        out.withColumn("component", comp)
        .withColumn("is_canonical", (F.col(id_col) == F.col("component")))
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDedup) — centroid-bucketed embedding near-dup
# ---------------------------------------------------------------------------

def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    threshold: float = 0.99,
    quantize_scale: float | None = None,
) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign each embedding to its nearest centroid cell,
    find cosine-similar pairs ONLY within a cell, and keep the lowest-id
    member of each similar group. Returns (id, cluster, keep).

    Scale shape: the cell assignment is one narrow Arrow-batched matmul
    (``assign_clusters``); pairwise cosine work is bounded by cell size
    (grow k with the corpus so cells stay small — SemDedup uses ~50k cells
    for billions of docs); the wide ops are one shuffle on the cluster id
    for the within-cell join and a final drop-set join. No global O(n²)
    step. With ``quantize_scale`` the assignment argmin is integer-exact
    and therefore bit-replayable in SQL (see ``assign_clusters``).
    """
    from .clustering import assign_clusters

    assigned = assign_clusters(
        df.select(id_col, vec_col), centroids, vec_col=vec_col,
        out_col="cluster", quantize_scale=quantize_scale,
    )

    if quantize_scale is not None:
        # Integer-exact vectorized path: one Gram-matrix matmul per cell
        # (applyInPandas). Quantized vectors make every dot product an
        # exact integer in float64 (BLAS summation order irrelevant), so
        # the cosine — and therefore the keep decision — is bit-identical
        # to a sequential SQL replay. ~100x faster than a pair-join with
        # per-pair fold expressions.
        s = float(quantize_scale)
        thr = float(threshold)
        id_type = assigned.schema[id_col].dataType.simpleString()

        def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            M = np.floor(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64) * s + 0.5)
            G = M @ M.T
            nrm = np.sqrt(np.diag(G))
            with np.errstate(divide="ignore", invalid="ignore"):
                C = G / np.outer(nrm, nrm)
            dup = np.triu(np.nan_to_num(C, nan=-2.0) >= thr, k=1)
            return pd.DataFrame({
                id_col: pdf[id_col],
                "cluster": pdf["cluster"],
                "keep": ~dup.any(axis=0),
            })

        return assigned.groupBy("cluster").applyInPandas(
            _cell, schema=f"{id_col} {id_type}, cluster int, keep boolean"
        )

    # Raw-double path: within-cell pair join + exact fold cosine (the
    # oracle-baseline formulation; use quantize_scale at scale).
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col("cluster").alias("_ca"), F.col(vec_col).alias("_va")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col("cluster").alias("_cb"), F.col(vec_col).alias("_vb")
    )
    cos = V.cosine(F.col("_va"), F.col("_vb"))
    drops = (
        a.join(b, (F.col("_ca") == F.col("_cb")) & (F.col("id_a") < F.col("id_b")))
        .filter(cos >= threshold)
        .select(F.col("id_b").alias("_drop"))
        .distinct()
    )
    return (
        assigned.join(drops, assigned[id_col] == F.col("_drop"), "left_outer")
        .select(F.col(id_col), F.col("cluster"), F.col("_drop").isNull().alias("keep"))
    )


# ---------------------------------------------------------------------------
# Incremental dedup — new batch vs existing corpus via distributed Bloom
# ---------------------------------------------------------------------------

def _bloom_positions(col, nbits: int, nhashes: int):
    """k Bloom bit positions for a string column, as an array<long> — all
    JVM-side (xxhash64 with k different seeds), so corpus build and probe
    compute identical positions with zero Python in the hash path."""
    return F.array(*[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(nbits)) for i in range(nhashes)])


def build_bloom(df: DataFrame, key_col: str, nbits: int = 1 << 20, nhashes: int = 5) -> np.ndarray:
    """Distributed Bloom-filter build over ``key_col``: explode each key's k
    bit positions, group by 64-bit word index with a ``bit_or`` of the set
    bits (ONE bounded shuffle of at most nbits/64 rows regardless of corpus
    size), and collect the word list into a numpy uint64 bitmap. The
    collect is bounded by the filter size (nbits/64 longs), not the data.
    """
    words = (
        df.select(F.explode(_bloom_positions(F.col(key_col), nbits, nhashes)).alias("p"))
        .select(F.shiftright("p", 6).alias("w"),
                F.expr("shiftleft(1L, cast(pmod(p, 64) as int))").alias("b"))
        .groupBy("w").agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    bitmap = np.zeros(nbits // 64, dtype=np.uint64)
    for r in words:
        bitmap[r["w"]] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return bitmap


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    key_col: str,
    nbits: int = 1 << 20,
    nhashes: int = 5,
) -> DataFrame:
    """Incremental (new-batch-vs-corpus) exact dedup: rows of ``new_df``
    whose ``key_col`` does NOT appear in ``corpus_df``.

    Scale shape: a Bloom filter over the corpus keys — built distributed
    (``build_bloom``: bounded bit_or shuffle, bitmap-sized collect) and
    broadcast into an Arrow-batched membership probe. Bloom-NEGATIVE rows
    are definitely new and bypass the join entirely (the common case for a
    fresh crawl batch); only bloom-positive candidates (true dups + the
    false-positive fraction) pay the exact left-anti verification join
    against the corpus. The result is exact regardless of filter sizing:
    the verify join removes every false positive; sizing only tunes how
    much of the batch takes the cheap path.
    """
    from pyspark.sql.types import BooleanType

    bitmap = build_bloom(corpus_df, key_col, nbits=nbits, nhashes=nhashes)

    @F.pandas_udf(BooleanType())
    def _maybe_in(pos: pd.Series) -> pd.Series:
        m = np.vstack(pos.to_numpy()).astype(np.int64)  # (batch, k)
        hit = (bitmap[m >> 6] >> (m & 63).astype(np.uint64)) & np.uint64(1)
        return pd.Series(hit.all(axis=1).astype(bool))

    probed = new_df.withColumn(
        "_maybe", _maybe_in(_bloom_positions(F.col(key_col), nbits, nhashes))
    )
    definite_new = probed.filter(~F.col("_maybe")).drop("_maybe")
    candidates = probed.filter(F.col("_maybe")).drop("_maybe")
    verified_new = candidates.join(
        corpus_df.select(F.col(key_col).alias("_ck")).distinct(),
        candidates[key_col] == F.col("_ck"),
        "left_anti",
    )
    return definite_new.unionByName(verified_new)


def _position_grams(df: DataFrame, id_col: str, text_col: str, L: int) -> DataFrame:
    """(_id, _pos, _gh) for every token position's L-gram: one native
    transform over the token array exploded to one row per position —
    linear in corpus tokens, zero shuffle, md5 keys replay cross-engine."""
    toks = T.tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_t")).withColumn(
        "_n", F.size("_t")
    )
    gram = lambda i: F.md5(F.array_join(F.slice(F.col("_t"), i + 1, L), "\x1f"))  # noqa: E731
    return (
        base.filter(F.col("_n") >= L)
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("_n") - L),
                    lambda i: F.struct(i.alias("pos"), gram(i).alias("gh")),
                )
            ).alias("_g"),
        )
        .select("_id", F.col("_g.pos").alias("_pos"), F.col("_g.gh").alias("_gh"))
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
) -> DataFrame:
    """Exact duplicate-substring spans across the corpus — the n-gram
    formulation of suffix-array training-data dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): a token
    span is duplicated iff one of its ``min_len``-grams occurs elsewhere
    in the corpus, so marking every position whose L-gram is non-unique
    and merging the overlapping [pos, pos+L) intervals yields exactly the
    maximal duplicated spans of length >= ``min_len``.

    Returns one row per maximal span: (id_col, span_start, span_end
    [token indices, end exclusive], n_dup_grams, has_canonical) —
    ``has_canonical`` = 1 iff the span contains the corpus-wide FIRST
    occurrence (min (doc, pos)) of one of its grams, the deterministic
    keep-one rule for remove-all-but-one cleaning.

    Scale shape: per-position grams are one native transform over the
    token array (no UDF) exploded to (doc, pos, gram-key) — linear in
    corpus tokens; non-unique grams come from ONE hash aggregation on the
    gram key; marked positions come back via an equi-join on the key;
    interval merge is the classic running-max-end island window,
    partitioned per document. Gram keys are md5 of the joined token
    window (md5 replays in any engine; swap xxhash64 for tighter shuffle
    bytes when cross-engine replay is not needed)."""
    from pyspark.sql.window import Window

    L = int(min_len)
    pos_grams = _position_grams(df, id_col, text_col, L)
    # canonical key packs (doc, pos) into one bigint so min() is the
    # lexicographic first occurrence (pos < 2^20 per doc by contract)
    ck = F.col("_id").cast("long") * F.lit(1 << 20).cast("long") + F.col("_pos")
    # ONE count/min window on the gram key instead of a groupBy +
    # join-back (the gopher_repetition shape, r14): the historical
    # self-join computed the md5 position grams TWICE (once per branch —
    # the plan carried two full corpus scans + explodes) and shuffled
    # them twice (agg + join). The window shuffles the gram table once
    # and the duplicated-position set is then a pure filter; count/min
    # per gram are identical to the aggregate's.
    wg = Window.partitionBy("_gh")
    marked = (
        pos_grams.withColumn("_ck", ck)
        .withColumn("_cnt", F.count(F.lit(1)).over(wg))
        .withColumn("_canon", F.min("_ck").over(wg))
        .filter(F.col("_cnt") > 1)
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    prev_end = F.max(F.col("_pos") + F.lit(L)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    island = F.when(
        prev_end.isNull() | (F.col("_pos") > prev_end), F.lit(1)
    ).otherwise(F.lit(0))
    spans = (
        marked.withColumn("_isl", F.sum(island).over(w))
        .groupBy("_id", "_isl")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + F.lit(L)).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.max((F.col("_ck") == F.col("_canon")).cast("int")).alias("has_canonical"),
        )
    )
    return spans.select(
        F.col("_id").alias(id_col), "span_start", "span_end", "n_dup_grams",
        F.col("has_canonical").cast("bigint").alias("has_canonical"),
    )


def contamination_spans(
    df: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
) -> DataFrame:
    """Exact cross-corpus span decontamination (the GPT-3 appendix-C /
    Llama-2 procedure): a training-corpus token position is CONTAMINATED
    iff its ``min_len``-gram appears anywhere in the probe corpus (the
    eval benchmarks); overlapping contaminated positions merge into the
    maximal spans to cut from the training text. Stronger than
    ``ngram_contamination`` (set-overlap scoring per doc): this returns
    the exact [span_start, span_end) token intervals, so the pipeline can
    surgically remove the leaked text instead of dropping or merely
    flagging whole documents.

    Returns (id_col, span_start, span_end [token indices, end exclusive],
    n_hit_grams) — one row per maximal contaminated span.

    Scale shape: the corpus side is ONE linear explode (no shuffle); the
    probe gram set is benchmark-sized, so the membership test is a
    broadcast LEFT SEMI join; the interval merge is the per-doc island
    window. The 100 TB corpus never shuffles on the gram key.
    """
    from pyspark.sql.window import Window

    L = int(min_len)
    corpus = _position_grams(df, id_col, text_col, L)
    probe_grams = _position_grams(probes, id_col, text_col, L).select("_gh").distinct()
    marked = corpus.join(F.broadcast(probe_grams), "_gh", "left_semi")
    w = Window.partitionBy("_id").orderBy("_pos")
    prev_end = F.max(F.col("_pos") + F.lit(L)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    island = F.when(
        prev_end.isNull() | (F.col("_pos") > prev_end), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        marked.withColumn("_isl", F.sum(island).over(w))
        .groupBy("_id", "_isl")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + F.lit(L)).alias("span_end"),
            F.count(F.lit(1)).alias("n_hit_grams"),
        )
        .select(F.col("_id").alias(id_col), "span_start", "span_end", "n_hit_grams")
    )


def remove_token_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """Apply a span table (``contamination_spans`` / ``duplicate_spans``
    output) to the corpus: cut every [span_start, span_end) token
    interval from each document and rejoin the survivors — the surgical
    removal step of decontamination / Lee-et-al span dedup, instead of
    dropping whole documents. Rows without spans pass through intact.

    Token positions follow the same ``T.tokens`` contract the span
    generators used (trim + lower + whitespace split), so ``out_col`` is
    the whitespace-normalized lowercased text minus the cut spans.
    Returns the input plus (n_tokens_before, n_tokens_after, out_col).

    Scale shape: spans collapse to one tiny per-doc list (spans per doc
    are few by construction — they're maximal), ONE join back onto the
    corpus, then a native index-aware array filter — no explode of the
    corpus tokens, no Python.
    """
    sp = spans.groupBy(F.col(id_col).alias("_sid")).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").cast("long").alias("s"),
                F.col("span_end").cast("long").alias("e"),
            )
        ).alias("_spans")
    )
    joined = df.join(sp, df[id_col] == sp["_sid"], "left").drop("_sid")
    toks = T.tokens(F.col(text_col))
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    spans_col = F.coalesce(F.col("_spans"), empty)
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            spans_col, lambda s: (i >= s["s"]) & (i < s["e"])
        ),
    )
    return (
        joined.withColumn("n_tokens_before", F.size(toks).cast("long"))
        .withColumn(out_col, F.array_join(kept, " "))
        .withColumn("n_tokens_after", F.size(kept).cast("long"))
        .drop("_spans")
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS local-similarity algorithm): hash every token ``k``-gram,
    slide a window of ``w`` consecutive gram hashes, and select each
    window's MINIMUM hash (rightmost position on ties — a deterministic
    tie rule; the paper's "robust winnowing" variant instead prefers the
    previous window's selection on ties, trading determinism of THIS
    rule for lower density on runs of equal hashes). The selected (position, hash) set is the document's
    fingerprint sketch with the paper's guarantee: any shared token run
    of length >= ``w + k - 1`` between two documents shares at least one
    fingerprint, at expected density 2/(w+1) — local similarity
    detection (plagiarism, boilerplate, quote mining) that whole-doc
    hashing (``fingerprints``) and set-similarity (minhash) both miss.

    Returns distinct (id_col, pos, gh) — join on ``gh`` across documents
    for candidate local-overlap pairs.

    Cross-engine-exact tie rule: the window min runs over the single
    string key ``gh || lpad(999999999 - pos, 9)`` — ASCII comparison gives
    min-hash-then-rightmost-position in ONE min(), bit-replayable in any
    engine (positions < 1e9 per document by contract, same class as
    dup_spans' packed-key bound). One linear explode + one window shuffle
    on the doc id.
    """
    from pyspark.sql.window import Window

    pg = _position_grams(df, id_col, text_col, int(k))
    # full windows only: gram count m = n-k+1, window starts 0 .. m-w
    cnt = F.count(F.lit(1)).over(Window.partitionBy("_id"))
    key = F.concat(
        F.col("_gh"),
        F.lpad((F.lit(999_999_999) - F.col("_pos")).cast("string"), 9, "0"),
    )
    sel = F.min(key).over(
        Window.partitionBy("_id").orderBy("_pos").rowsBetween(0, int(w) - 1)
    )
    picked = (
        pg.withColumn("_m", cnt)
        .withColumn("_key", sel)
        .filter(F.col("_pos") <= F.col("_m") - F.lit(int(w)))
        .select(
            "_id",
            (F.lit(999_999_999) - F.substring("_key", 33, 9).cast("long")).alias("pos"),
            F.substring("_key", 1, 32).alias("gh"),
        )
        .distinct()
    )
    return picked.select(F.col("_id").alias(id_col), "pos", "gh")


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """MOSS's candidate generator on top of ``winnowing_fingerprints``:
    document pairs sharing >= ``min_shared`` distinct fingerprint hashes
    — local-overlap candidates (plagiarism, quoted passages, shared
    boilerplate) that set-similarity misses when the overlap is a small
    fraction of either document. Returns (id_a, id_b, shared_fps),
    id_a < id_b.

    Scale shape: the self-join runs over the SKETCH (density ~2/(w+1) of
    corpus grams), never the corpus; at 100 TB, prune promiscuous
    boilerplate hashes by document frequency first (the posting-list
    discipline) so no single hash fans out quadratically.
    """
    fp = (
        winnowing_fingerprints(df, id_col, text_col, k, w)
        .select(F.col(id_col).alias("_fid"), "gh")
        .distinct()
    )
    a = fp.select(F.col("_fid").alias("id_a"), "gh")
    b = fp.select(F.col("_fid").alias("id_b"), "gh")
    return (
        a.join(b, "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= int(min_shared))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    ngram: int = 1,
) -> DataFrame:
    """Asymmetric near-dup: directed pairs where token set A is contained
    in B — ``C(A→B) = |A ∩ B| / |A| >= threshold``. Catches the cases
    symmetric jaccard structurally misses: a doc pasted inside a larger
    doc, boilerplate wrapping, quote expansion (|A∩B|/|A∪B| stays low
    while C(A→B) ≈ 1). Returns (id_a, id_b, containment) with id_a the
    CONTAINED side, both directions tested.

    Same exact prefix-filter discipline as ``jaccard_similar_pairs``:
    under a global rarest-first token order, overlap >= t*|A| forces B to
    hit one of A's first |A| - ceil(t*|A|) + 1 tokens, so only the
    contained side's short rare-token prefix drives the candidate join
    (containment has no size-ratio bound — B may be any size — so the
    prefix is the only, and the important, filter). Candidates are then
    verified with the true intersection; exact at any partitioning.

    CORRECTNESS-TIER BASELINE (the ``jaccard_similar_pairs`` caveat,
    doubled): on a template-heavy corpus the TRUE directed-pair count
    grows quadratically within each duplicate cluster, so exact
    enumeration is output-bound no matter the filter (measured 42x for a
    10x corpus on the synthetic near-dup-dense testdata — PERF.md r5).
    The 100 TB path is minhash-LSH candidates (``minhash_lsh_pairs``)
    verified with this containment formula, or a canonical-doc dedup
    BEFORE containment so clusters are singletons.
    """
    t = float(threshold)
    sets = df.select(F.col(id_col).alias("_id"), _hashed_set(F.col(text_col), ngram).alias("_v"))
    cand = _prefix_candidates(sets, t, directed=True)
    return _verified(cand, sets, _overlap() / F.size("_va"), lambda c: c >= t, "containment")


def _lsh_rows_per_band(jmin: float, num_perm: int, miss_target: float) -> int:
    """Largest rows-per-band r whose miss probability (1 - jmin^r)^(num_perm//r)
    stays under miss_target at the jaccard lower bound — larger r means
    fewer noise candidates; r=1 is the full-recall fallback."""
    best = 1
    for r in range(1, num_perm + 1):
        b = num_perm // r
        if b < 1:
            break
        if (1.0 - jmin ** r) ** b <= miss_target:
            best = r
    return best


def _lsh_bands(jmin: float, r: int, num_perm: int, miss_target: float) -> int:
    """Smallest band count b with (1 - jmin^r)^b <= miss_target (capped at
    num_perm // r): emitting more bands than the target needs only
    multiplies each true pair's duplicate matches (and the candidate
    shuffle) without buying recall."""
    cap = num_perm // r
    p = 1.0 - jmin ** r
    if p <= 0.0:
        return 1
    for b in range(1, cap + 1):
        if p ** b <= miss_target:
            return b
    return cap


def containment_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    ngram: int = 1,
    num_perm: int = 128,
    max_gap: int = 4,
    size_base: float = 2.0,
    miss_target: float = 1e-6,
    seed: int = 1,
) -> DataFrame:
    """The SCALE PATH for ``containment_pairs``: size-stratified minhash
    LSH candidates (the LSH-Ensemble construction — Zhu, Nazi et al.,
    VLDB 2016) verified with the exact containment formula, so the output
    has no false positives and recall is an explicit, tunable envelope.

    Why stratify: containment C(A→B) >= t only bounds JACCARD through the
    size ratio r = |B|/|A|:  J >= t / (r + 1 - t).  A tiny doc contained
    in a huge one has near-zero jaccard, so one global band setting
    either misses it or drowns in noise. Docs are bucketed into geometric
    size strata (``size_base``); for each stratum gap d (container minus
    contained, -1..``max_gap``), the ratio is < base^(d+1), giving a
    per-gap jaccard floor J_min(d), and rows-per-band is chosen as the
    largest value whose miss probability at J_min(d) is under
    ``miss_target`` (r=1 fallback = any shared minhash value collides).
    One equi-join on (stratum, gap, band, bucket) generates every
    candidate across all gaps at once; exact verification follows.

    Recall envelope: pairs with |B|/|A| >= base^(max_gap+1) are OUTSIDE
    the candidate space (their jaccard floor is ~0 — no minhash scheme
    sees them); raise ``max_gap`` or route through the exact
    ``containment_pairs`` prefix filter for adversarial size spreads.
    Per-doc cost is linear: one signature + O(max_gap * num_perm)
    emitted bucket keys. The true output is still quadratic within
    duplicate clusters — that is the answer's size, not the algorithm's.
    """
    t = float(threshold)
    sig = minhash_signature(df, id_col, text_col, num_perm, shingle_k=ngram, seed=seed)
    nset = df.select(
        F.col(id_col).alias("_id"), F.size(_item_set(F.col(text_col), ngram)).alias("_n")
    ).filter(F.col("_n") > 0)
    stratum = F.floor(F.log(float(size_base), F.col("_n").cast("double"))).cast("int")
    # persisted AND materialized up front: the key table references this
    # from BOTH join sides within one job — an unmaterialized cache would be
    # computed (Arrow minhash kernel over the corpus) once per branch
    sized = (
        nset.join(sig, "_id").withColumn("_s", F.greatest(stratum, F.lit(0))).persist()
    )
    sized.count()

    gaps = list(range(-1, max_gap + 1))
    jmin_for_gap = {
        d: t / (float(size_base) ** (d + 1) + 1.0 - t) for d in gaps
    }
    rows_for_gap = {
        d: _lsh_rows_per_band(jmin_for_gap[d], num_perm, miss_target) for d in gaps
    }
    bands_for_gap = {
        d: _lsh_bands(jmin_for_gap[d], rows_for_gap[d], num_perm, miss_target)
        for d in gaps
    }

    # One exploded key table carrying BOTH roles: the contained side
    # probes UP into the container's stratum (ks = s + d); the container
    # side publishes at its own stratum (ks = s). All bucket hashes come
    # from ONE Arrow kernel returning a position-indexed array — a
    # ~(gaps * num_perm)-wide struct expression here blows janino's 64 KB
    # codegen method limit and silently drops the whole stage to
    # interpreted eval (observed: compile error in the logs + ~4x the
    # runtime). Positions map to (gap, band) through two literal arrays:
    # a driver-built table would be a new RDD per call, so no later call's
    # plan could match the caches this one leaves.
    from pyspark.sql.types import ArrayType, LongType

    from sycamore_spark.operators.similarity import _bigints

    layout = [(d, bi) for d in gaps for bi in range(bands_for_gap[d])]
    gap_specs = [(rows_for_gap[d], bands_for_gap[d]) for d in gaps]
    C = np.uint64(1000003)  # polynomial bucket combine; uint64 wraparound

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(sigs: pd.Series) -> pd.Series:
        out = []
        for s in sigs:
            m = np.asarray(s, dtype=np.int64).view(np.uint64)
            parts = []
            for r, nb in gap_specs:
                if r == 1:
                    parts.append(m[:nb])
                else:
                    v = m[: nb * r].reshape(nb, r)
                    acc = v[:, 0].copy()
                    with np.errstate(over="ignore"):
                        for j in range(1, r):
                            acc = acc * C + v[:, j]
                    parts.append(acc)
            out.append(np.concatenate(parts).view(np.int64))
        return pd.Series(out)

    pos = F.col("_pos") + 1
    kdf = (
        sized.select("_id", "_s", F.posexplode(_buckets("_sig")).alias("_pos", "kh"))
        .select(
            "_id",
            F.col("_s").cast("long").alias("ks"),
            F.element_at(_bigints(d for d, _ in layout), pos).alias("kd"),
            F.element_at(_bigints(bi for _, bi in layout), pos).alias("kb"),
            "kh",
        )
        .persist()
    )
    kdf.count()
    probe = kdf.select("_id", (F.col("ks") + F.col("kd")).alias("ks"), "kd", "kb", "kh")
    # materialize candidates, then release the corpus-wide signature cache;
    # exact token-hash sets are built only for candidate docs
    cand = _blocked_pairs(probe, kdf, ["ks", "kd", "kb", "kh"], directed=True).persist()
    cand.count()
    kdf.unpersist()
    sized.unpersist()
    hsets = _candidate_sets(df, cand, id_col, _hashed_set(F.col(text_col), ngram))
    hsets.count()  # materialize before the dual (id_a, id_b) join branches
    return _verified(cand, hsets, _overlap() / F.size("_va"), lambda c: c >= t, "containment")


def soft_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Soft deduplication: instead of dropping every non-canonical near-dup
    (which deletes all intra-cluster diversity), keep each document with
    probability ``1 / |cluster|`` so every duplicate cluster contributes
    ONE EXPECTED surviving copy — the down-weighting strategy behind
    SlimPajama-DC-style "soft" dedup and the sampling form of
    dedup-then-upsample. Which copy survives varies BY CONTENT, not by
    run: the keep test is the content-addressed md5 hash (``hash(id) mod
    1e6 < 1e6 // size`` — the modulus is pinned to the hash resolution,
    never a parameter: a differing modulus would silently skew every
    keep probability), so the surviving set is identical on every run
    and any partitioning, and a DuckDB oracle replays it exactly.

    Returns every input row plus ``component``, ``cluster_size``,
    ``weight_micros`` (= ``1e6 // size``, the integer keep threshold) and
    ``kept``. Filter ``kept`` for the sampled corpus; use
    ``weight_micros`` as a loss weight to train on everything instead.

    Scale shape: components run over the PAIR set only; the corpus takes
    one broadcast-able join to the (node, component) map plus one window
    count keyed by component — clusters are tiny, so no skew. Contrast
    with ``canonical_docs`` (hard dedup, keep = min id): same inputs,
    same determinism, different retention policy.
    """
    from pyspark.sql.window import Window

    from sycamore_spark.operators.sampling import _MOD, _hash_bucket

    labeled = canonical_docs(df, pairs, id_col, checkpoint_dir=checkpoint_dir)
    w = Window.partitionBy("component")
    size = F.count(F.lit(1)).over(w)
    thresh = F.floor(F.lit(_MOD) / size).cast("long")
    return (
        labeled.drop("is_canonical")
        .withColumn("cluster_size", size.cast("long"))
        .withColumn("weight_micros", thresh)
        .withColumn("kept", _hash_bucket(F.col(id_col)) < F.col("weight_micros"))
    )


def split_leakage(
    df: DataFrame,
    pairs: DataFrame,
    split_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/test leakage audit: how many near-duplicate pairs CROSS a
    split boundary (a training doc whose near-dup sits in the eval set
    inflates eval scores — the contamination failure group_aware_split
    exists to prevent). Returns one row per ordered split pair
    (``split_a`` < ``split_b``) with the crossing-pair count. An empty /
    all-zero result certifies the split is near-dup-leak-free at the
    pair generator's threshold.

    Scale shape: the (id, split) projection joins the pair table twice on
    its two endpoints — pair-table-scale work, corpus never shuffles; the
    final agg is at most |splits|^2 rows.
    """
    s = df.select(F.col(id_col).alias("_n"), F.col(split_col).alias("_s"))
    a = s.withColumnRenamed("_n", "id_a").withColumnRenamed("_s", "split_a")
    b = s.withColumnRenamed("_n", "id_b").withColumnRenamed("_s", "split_b")
    crossing = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.least("split_a", "split_b").alias("split_a"),
            F.greatest("split_a", "split_b").alias("split_b"),
        )
    )
    return crossing.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("leaked_pairs")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
    out_col: str = "clean_text",
) -> DataFrame:
    """Paragraph-granularity approximate span dedup: the suffix-array span
    dedup idea (Lee et al. 2021 "Deduplicating Training Data Makes
    Language Models Better") relaxed to fixed ``window``-token paragraph
    segments matched by MinHash+LSH instead of exact suffix runs —
    near-duplicate PASSAGES are cut from documents while the documents
    themselves survive (cf. ``duplicate_spans``, which needs exact gram
    equality; this catches lightly-edited boilerplate too).

    Pipeline (a composition of existing, individually-gated stages):
    segment every document into ``window``-token windows (the
    ``paragraph_lm_filter`` segmentation: NULL/empty text yields one
    empty kept window, so every input id survives); run
    ``minhash_lsh_pairs`` over the window table (windows shorter than
    ``shingle_k`` tokens carry no shingle signal and pass through
    untouched); greedily remove every window that near-duplicates a
    SMALLER-keyed window (removed = the larger end of any verified pair —
    the keep-first-occurrence rule of exact_dedup, on the packed
    "id\\x1fwidx" string key in byte order, id-type-agnostic and
    replayable in SQL without connected components); convert removed
    windows to token spans and excise them with ``remove_token_spans``.

    Returns the input rows plus (n_windows, n_removed, n_tokens_before,
    n_tokens_after, ``out_col``).

    Scale shape: one linear segment explode, the banded-LSH bucket join
    over windows (never the corpus cross product), exact-Jaccard
    verification bounded by the candidate set, then one pair-scale span
    table joined back onto the corpus — the same 100 TB story as
    ``dedup_minhash`` plus a narrow reassembly join. The span table is
    localCheckpointed: it is referenced twice (the excision join and the
    per-doc removed-count) and its lineage contains the whole LSH
    pipeline.
    """
    from sycamore_spark.functions.partitioning import lineage_cut

    P = int(window)
    # split('') yields [''] — filter empty tokens so empty/whitespace-only/
    # NULL text counts 0 tokens, matching the oracle's list_filter(t != '')
    # (empty tokens can only arise from empty input: T.tokens trims first)
    toks = F.filter(
        T.tokens(F.coalesce(F.col(text_col), F.lit(""))), lambda t: t != F.lit("")
    )
    base = df.select(F.col(id_col).alias("_did"), toks.alias("_t")).withColumn(
        "_n", F.size("_t")
    )
    nwin = F.greatest(F.ceil(F.col("_n") / F.lit(P)).cast("int"), F.lit(1))
    wins = base.select(
        "_did",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nwin - 1),
                lambda i: F.struct(
                    i.cast("long").alias("widx"),
                    F.array_join(F.slice(F.col("_t"), i * P + 1, P), " ").alias("wtext"),
                    F.least(
                        F.lit(P).cast("long"), F.col("_n").cast("long") - i * P
                    ).alias("wlen"),
                ),
            )
        ).alias("_w"),
    ).select(
        "_did",
        F.col("_w.widx").alias("_widx"),
        F.col("_w.wtext").alias("_wtext"),
        F.col("_w.wlen").alias("_wlen"),
        F.concat_ws(
            "\x1f", F.col("_did").cast("string"), F.col("_w.widx").cast("string")
        ).alias("_wid"),
    )
    # the window table feeds the LSH pipeline (which references it several
    # times), the span join, and the per-doc stats — cut the lineage once.
    # LAZY: the LSH candidate materialization is the first action through
    # this frame and populates the cache, so the segmentation pass doesn't
    # need its own job (r14)
    wins = lineage_cut(wins, eager=False)
    eligible = wins.filter(F.col("_wlen") >= int(shingle_k)).select("_wid", "_wtext")
    pairs = minhash_lsh_pairs(
        eligible, "_wid", "_wtext", threshold=threshold,
        num_perm=num_perm, bands=bands, shingle_k=shingle_k,
    )
    spans = lineage_cut(
        wins.join(_larger_ids(pairs, "_wid"), "_wid", "left_semi")
        .select(
            F.col("_did").alias(id_col),
            F.col("_widx"),
            (F.col("_widx") * P).cast("long").alias("span_start"),
            (F.col("_widx") * P + P).cast("long").alias("span_end"),
        )
    )
    stats = wins.groupBy(F.col("_did").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_windows")
    )
    rem_stats = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_removed")
    )
    out = remove_token_spans(
        df, spans.drop("_widx"), id_col=id_col, text_col=text_col, out_col=out_col
    )
    return (
        out.join(stats, id_col, "left")
        .join(rem_stats, id_col, "left")
        .withColumn("n_removed", F.coalesce(F.col("n_removed"), F.lit(0)).cast("long"))
        # remove_token_spans passes NULL text through as NULL and counts ''
        # as one empty token (the decontaminate-family contract); this op's
        # contract is one empty kept window with ZERO tokens instead, so
        # empty/whitespace-only/NULL text overrides both counts to 0
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
        .withColumn(
            "_empty_in",
            F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) == 0,
        )
        .withColumn(
            "n_tokens_before",
            F.when(F.col("_empty_in"), F.lit(0))
            .otherwise(F.coalesce(F.col("n_tokens_before"), F.lit(0)))
            .cast("long"),
        )
        .withColumn(
            "n_tokens_after",
            F.when(F.col("_empty_in"), F.lit(0))
            .otherwise(F.coalesce(F.col("n_tokens_after"), F.lit(0)))
            .cast("long"),
        )
        .drop("_empty_in")
    )


# ---------------------------------------------------------------------------
# Self-Instruct instruction-pool ROUGE-L filter
# ---------------------------------------------------------------------------


def instruction_pool_filter(
    batch_df: DataFrame,
    pool_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 2,
    prefix_block: int = 8,
    seed: int = 1,
) -> DataFrame:
    """Self-Instruct pool-dedup filter (Wang et al. 2022 §3.4 "Filtering
    and Postprocessing"): a new instruction enters the pool only if its
    ROUGE-L F1 similarity to EVERY existing pool instruction is below
    ``threshold`` (the paper's 0.7). Returns the kept batch rows as
    (id_col, n_tokens).

    Scale shape — the module's standard signature/candidates/verify
    pattern, batch-vs-pool (the incremental_dedup orientation, never
    pool x pool):
      1. TWO candidate channels, unioned: (a) MinHash-LSH over word
         ``shingle_k``-shingles of the instruction (band-bucket equi-join,
         probabilistic recall tuned by bands/rows); (b) exact
         ``prefix_block``-token prefix-hash equality (prefix blocking —
         catches the head-sharing near-dups instruction edits produce,
         deterministically). Both are equi-join shuffles; neither is a
         cross join.
      2. Exact ROUGE-L on the candidate pairs in ONE Arrow stage: a
         clipped-unigram-overlap upper bound (clipped matches >= LCS, so
         2*M/(n_b+n_p) < threshold proves F1 < threshold) prunes inside
         the kernel before the O(n*m) DP runs.
      3. max F1 per batch id; keep iff max < floor(threshold*1e6+0.5)
         (integer micros compare — no float-boundary drift).

    Output parity contract: the kept SET equals the brute-force
    all-pairs answer whenever the blocking recalls every pair at or
    above ``threshold`` (gate-verified against the exact oracle at the
    pinned seed — the dedup_minhash precedent). Per-pair F1 values are
    deliberately NOT returned: a sub-threshold pair missed by blocking
    would make a max-F1 column blocking-dependent.

    Degenerate instructions (< ``shingle_k`` tokens) skip the LSH channel
    — empty signatures would all share one quadratic hot bucket — and use
    an exact full-text hash channel instead, which is provably lossless
    at the defaults (see the inline proof at the channel construction)."""
    from sycamore_spark.evaluation import _lcs_len

    thr_micros = int(np.floor(threshold * 1e6 + 0.5))

    def _prep(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"_{side}id"),
            T.tokens(F.col(text_col)).alias(f"_{side}tk"),
        )

    b = _prep(batch_df, "b")
    p = _prep(pool_df, "p")

    def _buckets(frame: DataFrame, side: str) -> DataFrame:
        sig = frame.select(
            f"_{side}id",
            minhash_signature_col(
                F.array_join(F.col(f"_{side}tk"), " "), num_perm, shingle_k, seed
            ).alias("_sig"),
        )
        keys = _band_keys(F.col("_sig"), bands, num_perm // bands)
        return sig.select(f"_{side}id", F.explode(keys).alias("k")).select(
            f"_{side}id", "k.band", "k.bucket"
        )

    # Degenerate rows (< shingle_k tokens -> empty minhash signature) are
    # EXCLUDED from the LSH channel: empty signatures all share every band
    # bucket, so a corpus with many fragments would form one quadratic hot
    # bucket (the skew trap the docstring used to merely warn about). They
    # are covered instead by the exact full-text channel below — provably
    # lossless at the defaults (shingle_k=2, threshold > 2/3): a pair with
    # a 1-token side reaches F1 = 2*lcs/(1+n) >= 2/3 only when n = 1 and
    # the tokens are equal, i.e. identical text. For shingle_k > 2 short
    # non-identical pairs can exceed the threshold through the prefix
    # channel's blind spot — callers there should lower shingle_k or
    # pre-filter fragments (documented residual).
    lsh_cand = (
        _buckets(b.where(F.size("_btk") >= shingle_k), "b")
        .join(_buckets(p.where(F.size("_ptk") >= shingle_k), "p"), ["band", "bucket"])
        .select("_bid", "_pid")
    )
    pref = lambda side: F.xxhash64(  # noqa: E731
        F.array_join(F.slice(F.col(f"_{side}tk"), 1, prefix_block), " ")
    )
    pre_cand = (
        b.select("_bid", pref("b").alias("_ph"))
        .join(p.select("_pid", pref("p").alias("_ph")), "_ph")
        .select("_bid", "_pid")
    )
    exact = lambda side: F.xxhash64(F.array_join(F.col(f"_{side}tk"), " "))  # noqa: E731
    exact_cand = (
        b.where(F.size("_btk") < shingle_k).select("_bid", exact("b").alias("_eh"))
        .join(p.select("_pid", exact("p").alias("_eh")), "_eh")
        .select("_bid", "_pid")
    )
    cand = lsh_cand.union(pre_cand).union(exact_cand).distinct()

    pairs = (
        cand.join(b, "_bid")
        .join(p, "_pid")
        .select("_bid", "_btk", "_ptk")
    )

    from collections import Counter

    def _verify(it):
        for pdf in it:
            ids, f1s = [], []
            for bid, bt, pt in zip(pdf["_bid"], pdf["_btk"], pdf["_ptk"]):
                bt = list(bt) if bt is not None else []
                pt = list(pt) if pt is not None else []
                tot = len(bt) + len(pt)
                if tot == 0:
                    continue
                m = sum((Counter(bt) & Counter(pt)).values())
                if np.floor((2.0 * m) / tot * 1e6 + 0.5) < thr_micros:
                    continue  # clipped-overlap bound: F1 cannot reach threshold
                f1 = int(np.floor((2.0 * _lcs_len(bt, pt)) / tot * 1e6 + 0.5))
                ids.append(bid)
                f1s.append(f1)
            yield pd.DataFrame({"_bid": ids, "_f1": f1s})

    idt = batch_df.schema[id_col].dataType.simpleString()
    dup_ids = (
        pairs.mapInPandas(_verify, schema=f"_bid {idt}, _f1 long")
        .where(F.col("_f1") >= F.lit(thr_micros))
        .select("_bid")
        .distinct()
    )
    return (
        b.join(dup_ids, b["_bid"] == dup_ids["_bid"], "left_anti")
        .select(F.col("_bid").alias(id_col), F.size("_btk").cast("long").alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# Embedding-level (semantic) test-set decontamination
# ---------------------------------------------------------------------------


def embedding_decontaminate(
    corpus_df: DataFrame,
    test_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    max_test: int = 100_000,
) -> DataFrame:
    """Semantic test-set decontamination over embeddings (the
    embedding-similarity complement of the n-gram ``decontaminate``;
    published practice in e.g. phi-1, Gunasekar et al. 2023 §2, which
    filters pretraining code by embedding similarity to the eval set):
    drop every corpus row whose MAX cosine similarity against any test
    row reaches ``threshold``. Returns the kept rows as
    (id_col, max_cos_micros) — floor(max_cos * 1e6 + 0.5), NULL when the
    test set is empty (nothing to decontaminate against; everything
    kept).

    Scale shape — the ``brute_force_topk`` contract with the roles it
    was designed for: the TEST side is benchmark-scale and bounded
    (``max_test`` guard raises before the collect can hurt the driver),
    shipped to every partition as one numpy float64 matrix; the corpus
    side streams through ONE Arrow pass — each batch is a single matmul
    + column max, zero shuffle, zero joins. The keep comparison is
    ``max_cos < threshold`` on the unquantized double (same raw-compare
    convention as dedup_embedding's 0.45 gate)."""
    import pickle

    t_rows = (
        test_df.select(V.as_double(F.col(vec_col)).alias("_tv"))
        .limit(max_test + 1)
        .collect()
    )
    if len(t_rows) > max_test:
        raise ValueError(
            f"embedding_decontaminate collects the test side to the driver; "
            f"got >{max_test} test rows (max_test={max_test}). Decontaminate "
            f"against benchmark-scale test sets, or chunk the test set."
        )
    idt = corpus_df.schema[id_col].dataType.simpleString()
    base = corpus_df.select(F.col(id_col).alias("_id"), V.as_double(F.col(vec_col)).alias("_v"))
    if not t_rows:
        return base.select(
            F.col("_id").alias(id_col),
            F.lit(None).cast("long").alias("max_cos_micros"),
        )
    T_mat = np.array([r["_tv"] for r in t_rows], dtype=np.float64)
    t_norm = np.sqrt((T_mat**2).sum(axis=1))
    blob = pickle.dumps((T_mat, t_norm))
    thr = float(threshold)

    def _scan(it):
        T, tn = pickle.loads(blob)
        for pdf in it:
            if not len(pdf):
                continue
            C = np.array(list(pdf["_v"]), dtype=np.float64)
            cn = np.sqrt((C**2).sum(axis=1))
            sims = (C @ T.T) / (cn[:, None] * tn[None, :])
            mc = sims.max(axis=1)
            keep = mc < thr
            yield pd.DataFrame({
                "_id": pdf["_id"][keep],
                "max_cos_micros": np.floor(mc[keep] * 1e6 + 0.5).astype(np.int64),
            })

    from sycamore_spark.functions.partitioning import fan_out

    return fan_out(base).mapInPandas(
        _scan, schema=f"_id {idt}, max_cos_micros long"
    ).select(F.col("_id").alias(id_col), "max_cos_micros")
