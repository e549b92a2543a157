"""Lexical retrieval scoring: distributed BM25.

The reference scores documents against a query with embedding similarity or
a cross-encoder (transforms/similarity.py, docset.py rerank); classical
lexical BM25 is the retrieval baseline those are measured against, and at
corpus scale it is a pure dataflow problem — no model, three hash
aggregations:

  1. tokenize + explode, keep postings for query terms only (the term set
     is a tiny broadcast filter, so the exploded stream collapses
     immediately — the full postings list never shuffles);
  2. per-(doc, term) tf + per-term df + corpus (N, avgdl) — the last is a
     one-row frame joined back by broadcast, never a driver collect;
  3. per-term Lucene-BM25 contribution, summed per doc.

Cross-engine determinism: each term's contribution is quantized to integer
micros (``floor(x * 1e6 + 0.5)`` — the proven IEEE-exact pattern) BEFORE
the per-doc sum, so the result is an exact bigint sum, independent of
partitioning/evaluation order, and replayable bit-for-bit on any engine
whose ``ln`` is within ~1e-9 of correctly rounded (Spark's Math.log and
DuckDB's libm differ by <=~1e-12 relative — measured over 20k idf-shaped
inputs with zero 6dp-quantized mismatches).

Term convention: every scorer and store builder here tokenizes documents
and queries with ``functions.text.terms``, the non-empty lowercase
whitespace tokens. A document's length dl is its term count; a document
with no terms (NULL, empty or whitespace-only text) counts in neither N
nor avgdl. The raw-text scorers and the maintained store pair
(``bucketed_postings`` + ``doc_norms``) therefore agree bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sycamore_spark import store
from sycamore_spark.functions.local import collect_bounded, local_frame
from sycamore_spark.functions.partitioning import fold_touched_buckets, lineage_cut
from sycamore_spark.functions.text import terms


def _bucket(col: Column, n_buckets: int) -> Column:
    """A store bucket: of a term (postings) or of a document id (norms)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _doc_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _tok): one row per term occurrence."""
    return df.select(
        F.col(id_col).alias("_id"), F.explode(terms(F.col(text_col))).alias("_tok")
    )


def _query_terms(queries: DataFrame, query_id_col: str, query_text_col: str) -> DataFrame:
    """(_qid, _tok): each query's distinct terms (set semantics)."""
    return queries.select(
        F.col(query_id_col).alias("_qid"),
        F.explode(F.array_distinct(terms(F.col(query_text_col)))).alias("_tok"),
    )


def _doc_lengths(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _dl): the term count as a per-row projection, no explode and
    no shuffle. A doc without terms keeps its row with _dl <= 0 (size of
    NULL text is -1 with ANSI off): it joins no posting, and ``_counted``
    keeps it out of every corpus statistic. Filtering the rows instead
    would split the text twice, as Catalyst pushes the filter below the
    projection by copying the expression."""
    return df.select(F.col(id_col).alias("_id"), F.size(terms(F.col(text_col))).alias("_dl"))


def _counted(dl: Column) -> Column:
    """dl of a doc that counts in the corpus statistics, else NULL (which
    count, avg and sum skip)."""
    return F.when(dl > 0, dl)


def _corpus_stats(dl: DataFrame, dl_col: str) -> DataFrame:
    """The one-row (_n_docs, _avgdl) frame over the docs with a term."""
    n = _counted(F.col(dl_col))
    return dl.agg(F.count(n).alias("_n_docs"), F.avg(n).alias("_avgdl"))


def _bm25_micros(tf: str, df: str, dl: str, n_docs: str, avgdl: str, k1: float, b: float) -> Column:
    """One term's Lucene-BM25 contribution to one doc, in integer micros,
    from the named columns:

        idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))
        micros = floor(idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) * 1e6 + 0.5)

    Quantized BEFORE the per-doc sum: bigint addition is associative, so
    the score is partitioning-independent and hashable."""
    tf, df, dl, n_docs, avgdl = map(F.col, (tf, df, dl, n_docs, avgdl))
    idf = F.log(F.lit(1.0) + (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)))
    tf_norm = (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl)
    )
    return F.floor(idf * tf_norm * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")


def _term_freqs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, id_col, tf): one explode into one map-side-combined
    (term, doc) hash agg."""
    return (
        df.select(F.col(id_col), F.explode(terms(F.col(text_col))).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _rank_postings(tf: DataFrame, id_col: str, *extra: str) -> DataFrame:
    """(term, id_col, tf) rows -> postings (term, df, rank, id_col, tf,
    *extra): the term's document frequency and the doc's impact rank in the
    term's postings (tf desc, id asc), both riding one window exchange on
    the term. Each ``extra`` column is a function of the term (the bucket)
    and partitions the window too: that splits no term, and rows already
    hash-partitioned by the bucket need no new exchange."""
    by_term = Window.partitionBy("term", *extra)
    impact = by_term.orderBy(F.col("tf").desc(), F.col(id_col).asc())
    return tf.select(
        "term",
        F.count(F.lit(1)).over(by_term).cast("long").alias("df"),
        F.row_number().over(impact).cast("long").alias("rank"),
        id_col,
        F.col("tf").cast("long").alias("tf"),
        *extra,
    )


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document containing at least one of ``query_terms``
    (lowercased whitespace tokens) with Lucene-form BM25:

        idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))
        score  = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Returns (id_col, bm25_micros bigint): the score in integer micros
    (divide by 1e6 for the float value). N and avgdl are corpus-wide over
    every document with at least one term (the module's term convention);
    df counts documents containing the term.

    BROADCAST CONTRACT: the ``F.broadcast(dfreq)`` / ``F.broadcast(stats)``
    hints below are bounded by the QUERY vocabulary (one row per query
    term, one global stats row) — never by the corpus vocabulary — so they
    stay kilobytes at any corpus size. Do NOT lift this shape to a
    corpus-wide term table: ``tfidf_topk_terms`` in this module is the
    corpus-vocabulary twin and deliberately does NOT broadcast its
    vocabulary join (AQE upgrades it to broadcast only when it fits).
    """
    # dl as a per-row projection: the corpus-scale hash-agg shuffle for
    # document lengths disappears (guide §2.4; one corpus explode, not two)
    dl = _doc_lengths(df, id_col, text_col)
    matched = _doc_terms(df, id_col, text_col).filter(
        F.col("_tok").isin([t.lower() for t in query_terms])
    )
    tf = matched.groupBy("_id", "_tok").agg(F.count(F.lit(1)).alias("_tf"))
    dfreq = tf.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    return (
        tf.join(F.broadcast(dfreq), "_tok")
        .join(dl, "_id")
        .crossJoin(F.broadcast(_corpus_stats(dl, "_dl")))
        .groupBy("_id")
        .agg(F.sum(_bm25_micros("_tf", "_df", "_dl", "_n_docs", "_avgdl", k1, b)).alias("bm25_micros"))
        .select(F.col("_id").alias(id_col), "bm25_micros")
    )


def bm25_scores_multi(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    k: int | None = None,
    keep_rank: bool = False,
    max_df: int | None = None,
) -> DataFrame:
    """Batch twin of ``bm25_scores``: score every (query, doc) pair where
    the doc contains at least one of that query's terms, for a whole
    DataFrame of queries at once — the distributed search-scoring shape
    (one posting aggregation serves every query). Identical per-term
    arithmetic to ``bm25_scores`` (integer micros before the associative
    bigint sum), with SET semantics for each query's terms (duplicate
    words in a query count once — the reference executor passes term
    lists, not bags).

    ``max_df`` (optional) drops query terms whose document frequency
    exceeds it BEFORE the scoring join — the classic stopword/impact
    pruning: on natural-language questions the scored fan-out is dominated
    by near-ubiquitous terms whose IDF contribution is ~0, and at corpus
    scale that join is the whole cost. Deterministic (a pure df threshold),
    so an oracle can replay it exactly; None = exact scoring of all terms.

    Returns (query_id_col, id_col, bm25_micros), optionally top-``k``
    rows per query (rank window ordered by score desc, id asc — ties
    deterministic).

    Scale shape: corpus tokens are pruned by a semi-join against the
    DISTINCT query vocabulary before the tf aggregation, so posting
    construction touches only matching terms; per-term document
    frequencies are broadcast (bounded by the query vocabulary, per the
    ``bm25_scores`` broadcast contract — never the corpus vocabulary).
    The queries-to-postings join is a plain hash equi-join on the term.
    """
    # TWO corpus passes, each with a SMALL shuffle — measured and chosen
    # over the r7 one-explode rewrite (PERF.md r8 table):
    # the one-pass form aggregated (id, token) over the FULL corpus
    # vocabulary before the query semi-join, so its hash-agg shuffle was
    # corpus-sized; here the tf agg shuffles only query-matched tokens and
    # the dl agg's map-side combine reduces to one row per doc. Locally the
    # two-pass form ties at sf0.1 and wins ~15-20% at sf0.01 (2 and 100
    # queries alike); at 100 TB shuffle bytes dominate rescans of a
    # column-pruned text scan, so the small-shuffle form is the scale
    # choice too. This reverts the r7 snippets/subtask_exec regression.
    dl = _doc_lengths(df, id_col, text_col)
    qterms = _query_terms(queries, query_id_col, query_text_col)
    wanted = qterms.select("_tok").distinct()
    tf = (
        _doc_terms(df, id_col, text_col).join(wanted, "_tok", "left_semi")
        .groupBy("_id", "_tok")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = tf.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("_df") <= max_df)
        tf = tf.join(F.broadcast(dfreq.select("_tok")), "_tok", "left_semi")

    out = (
        qterms.join(tf, "_tok")
        .join(F.broadcast(dfreq), "_tok")
        .join(dl, "_id")
        .crossJoin(F.broadcast(_corpus_stats(dl, "_dl")))
        .groupBy("_qid", "_id")
        .agg(F.sum(_bm25_micros("_tf", "_df", "_dl", "_n_docs", "_avgdl", k1, b)).alias("bm25_micros"))
    )
    extra = []
    if k is not None or keep_rank:
        w = Window.partitionBy("_qid").orderBy(
            F.col("bm25_micros").desc(), F.col("_id").asc()
        )
        out = out.withColumn("_rk", F.row_number().over(w))
        if k is not None:
            out = out.filter(F.col("_rk") <= k)
        if keep_rank:
            # honored with or without k (a silently missing rank column
            # failed far from the cause at the caller's select)
            extra = [F.col("_rk").alias("rank")]
    return out.select(
        F.col("_qid").alias(query_id_col), F.col("_id").alias(id_col), "bm25_micros", *extra
    )


def best_snippets(
    df: DataFrame,
    queries: DataFrame,
    window: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Search-result snippet extraction: for each (query, matching doc),
    the ``window``-token span with the most query-term hits — the
    highlight a search UI shows under each hit. The optimal fixed-width
    window can always be anchored at a matched position, so candidates
    are exactly the matched (query, doc, pos) triples: one range-frame
    window (count of matches in [pos, pos + window)) scores them, one
    rank window picks the winner (ties: earliest start).

    ``pairs`` (optional, (query_id, id) columns) restricts scoring to
    given candidate pairs — at scale pass the retrieval top-k here so
    snippet work is bounded by results, not by every doc matching any
    term. Returns (query_id_col, id_col, snippet_start, hits, snippet).
    Matching is set-semantics lowercase whitespace tokens, consistent
    with the bm25 operators."""
    base = df.select(F.col(id_col).alias("_id"), terms(F.col(text_col)).alias("_tk"))
    want = None
    if pairs is not None:
        # pairs is results-sized by contract (retrieval top-k: ~k x
        # n_queries rows) but its LINEAGE is a full retrieval pass;
        # localCheckpoint materializes it once so the three consumers
        # below (doc prefilter, per-pair semi-join, and typically the
        # caller's final join) don't each recompute the scoring plan —
        # branch-lineage recomputation, the round-6 dedup_cc lesson
        pairs = lineage_cut(pairs)
        want = pairs.select(
            F.col(query_id_col).alias("_qid"), F.col(id_col).alias("_id")
        ).distinct()
        # restrict BEFORE the positional explode: only pairs' docs can
        # produce output, so the posexplode input drops from the whole
        # corpus to ~k x n_queries docs — the snippet pass is then
        # results-sized, not corpus-sized (this was the second full
        # corpus pass in the retrieval+highlight composition)
        base = base.join(want.select("_id").distinct(), "_id", "left_semi")
    postings = base.select(
        "_id", F.posexplode("_tk").alias("_pos", "_tok")
    )
    qterms = _query_terms(queries, query_id_col, query_text_col)
    matched = postings.join(qterms, "_tok").select("_qid", "_id", "_pos")
    if want is not None:
        # per-(query, doc) restriction — a doc may be top-k for only one
        # of the queries that matched it
        matched = matched.join(want, ["_qid", "_id"], "left_semi")
    w_hits = (
        Window.partitionBy("_qid", "_id")
        .orderBy("_pos")
        .rangeBetween(0, window - 1)
    )
    w_pick = Window.partitionBy("_qid", "_id").orderBy(
        F.col("hits").desc(), F.col("_pos").asc()
    )
    best = (
        matched.withColumn("hits", F.count(F.lit(1)).over(w_hits))
        .withColumn("_rk", F.row_number().over(w_pick))
        .filter(F.col("_rk") == 1)
    )
    out = best.join(base, "_id").select(
        F.col("_qid").alias(query_id_col),
        F.col("_id").alias(id_col),
        F.col("_pos").cast("long").alias("snippet_start"),
        F.col("hits").cast("long").alias("hits"),
        F.array_join(F.slice(F.col("_tk"), F.col("_pos") + 1, window), " ").alias(
            "snippet"
        ),
    )
    return out


def tfidf_topk_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — keyword extraction / document
    fingerprinting at corpus scale. Smoothed sklearn-form weighting:

        tfidf(t, d) = tf(t, d) * (ln((N + 1) / (df(t) + 1)) + 1)

    Returns (id_col, term, tfidf_micros bigint, rank) with scores in
    integer micros (the bm25 quantization pattern, engine-exact) and ties
    broken lexicographically so the top-k set is deterministic.

    Plan shape: tokenize-explode -> (doc, term) tf agg -> term df agg
    (shuffle join on term — the vocabulary is NOT broadcast: at corpus
    scale it does not fit, and AQE will still broadcast when it does) ->
    one-row N broadcast -> per-doc window top-k. Three hash aggs + one
    window; no driver collection.
    """
    tf = _doc_terms(df, id_col, text_col).groupBy("_id", "_tok").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    dfreq = tf.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    idf = F.log((F.col("_n_docs") + F.lit(1.0)) / (F.col("_df") + F.lit(1.0))) + F.lit(1.0)
    micros = F.floor(F.col("_tf") * idf * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    w = Window.partitionBy("_id").orderBy(F.col("tfidf_micros").desc(), F.col("_tok").asc())
    return (
        tf.join(dfreq, "_tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf_micros", micros)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            F.col("_tok").alias("term"),
            "tfidf_micros",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def phrase_search(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional exact-phrase search: documents containing ``phrase`` as a
    consecutive token run (lowercase whitespace tokens, same convention as
    the bm25 operators). The reference's OpenSearch/Elasticsearch readers
    push match_phrase queries to the service (reference
    sycamore/connectors/opensearch/opensearch_reader.py query DSL
    pass-through); natively this is a pure per-row scan — no postings
    self-join, no shuffle at all before the caller's next operator:

      positions = filter(0 .. len(tokens) - n,
                         i -> tokens[i+1] = t1 AND ... AND tokens[i+n] = tn)

    stays entirely inside whole-stage codegen (HOF ``filter`` with an
    element-wise conjunction — NOT slice-equality, which allocates an
    n-array per start offset and measured 3x slower), so the operator is
    embarrassingly parallel and scan-bound at 100 TB; only matching docs
    (usually a tiny fraction) survive to the output. Returns (id_col,
    n_hits bigint, first_pos bigint) for docs with >= 1 occurrence;
    occurrences may overlap (each start offset counts).
    """
    from functools import reduce

    from sycamore_spark.functions.partitioning import fan_out

    words = [t for t in phrase.lower().strip().split() if t]
    if not words:
        raise ValueError("phrase must contain at least one token")
    n = len(words)
    # token-scan CPU dominates: widen a single-file extract (cluster no-op)
    df = fan_out(df)
    tk = terms(F.col(text_col))

    def _starts(arr):
        # sequence(0, stop) DESCENDS when stop < 0 — guard short docs.
        return F.when(
            F.size(arr) >= n,
            F.filter(
                F.sequence(F.lit(0), F.size(arr) - F.lit(n)),
                lambda i: reduce(
                    lambda a, b: a & b,
                    [
                        F.element_at(arr, i + F.lit(1 + j)) == F.lit(t)
                        for j, t in enumerate(words)
                    ],
                ),
            ),
        ).otherwise(F.array().cast("array<int>"))

    # Bind the token array to a lambda VARIABLE before scanning positions:
    # HOFs re-evaluate their full inner expression per element, so writing
    # element_at(split(text), i) re-runs the regex split at EVERY start
    # offset (measured 250k splits/run on a 5k-doc extract, ~3 s; this
    # shape does 1 split/row, ~0.3 s). transform over a 1-element array is
    # the standard let-binding idiom.
    starts = F.flatten(F.transform(F.array(tk), _starts))
    return (
        df.select(F.col(id_col), starts.alias("_hits"))
        .filter(F.size("_hits") > 0)
        .select(
            id_col,
            F.size("_hits").cast("long").alias("n_hits"),
            F.element_at("_hits", 1).cast("long").alias("first_pos"),
        )
    )


def build_inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    top_docs: int | None = None,
) -> DataFrame:
    """Materialize an inverted index: one row per (term, doc) posting with
    term frequency, document frequency, and the doc's rank within the
    term's postings (tf desc, id asc — the static quality order a search
    tier serves from). This is the index-build half of the lexical
    retrieval suite (``bm25_scores*`` / ``best_snippets`` are the
    query-time half; the reference delegates both to OpenSearch /
    Elasticsearch — reference connectors/opensearch/opensearch_writer.py
    builds exactly this structure service-side).

    ``min_df`` drops hapax/noise terms; ``top_docs`` keeps only each
    term's best k postings (impact-ordered index pruning — the standard
    way a 100 TB corpus keeps the serving index bounded). Returns
    (term, df bigint, rank bigint, id_col, tf bigint).

    Scale shape: ONE explode feeding ONE (term, doc) hash agg (map-side
    combine collapses the token stream before the shuffle), then a
    per-term window for df + rank. Partition-by-term is the natural index
    bucketing — write the result ``partitionBy(hash(term) % N)`` for
    co-located query-time lookups; stopword-term skew is AQE's skew-join
    case, or pre-drop stopwords via a max-df ceiling the same way min_df
    prunes the tail.
    """
    out = _rank_postings(_term_freqs(df, id_col, text_col), id_col).filter(
        F.col("df") >= min_df
    )
    if top_docs is not None:
        out = out.filter(F.col("rank") <= top_docs)
    return out


def rrf_fuse(
    results: list,
    k0: int = 60,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
    k: int | None = None,
    weights: list[int] | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked result tables — the standard
    hybrid-retrieval combiner (Cormack et al. 2009; the reference reaches
    hybrid lexical+vector ranking only through OpenSearch's query DSL,
    reader.py os_client_args paths — here it is an engine operator over
    any (query, id, rank) tables, e.g. bm25_scores_multi + ivf_pq_topk_multi).

    score(d) = sum over systems of w_i/(k0 + rank_i(d)), kept EXACT as
    integer micros (floor(1e6/(k0+rank) + 0.5) per system, times the
    system's INTEGER weight, then an associative bigint sum) so engines
    agree bit-for-bit. Ties break by id. ``weights`` (optional, one int
    per result table, default all 1) is the practical weighted-RRF knob
    — express fractional weights as integers at your chosen resolution
    (0.7/0.3 -> [7, 3]); only ratios matter to the ranking, and integer
    weights keep the score oracle-replayable.

    Shape: a union of top-k-sized tables, one hash agg on (query, id),
    and an optional per-query rank window — result-scale, corpus-free."""
    if not results:
        raise ValueError("rrf_fuse needs at least one result table")
    if weights is None:
        weights = [1] * len(results)
    if len(weights) != len(results) or any(
        not isinstance(w, int) or isinstance(w, bool) or w <= 0 for w in weights
    ):
        raise ValueError(
            f"weights must be one positive int per result table "
            f"(got {weights!r} for {len(results)} tables)"
        )
    parts = [
        r.select(
            F.col(query_col).alias("_q"),
            F.col(id_col).alias("_i"),
            (
                F.floor(F.lit(1_000_000.0) / (F.lit(float(k0)) + F.col(rank_col).cast("double")) + F.lit(0.5))
                .cast("bigint") * F.lit(int(w))
            ).alias("_c"),
        )
        for r, w in zip(results, weights)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("_q", "_i").agg(F.sum("_c").alias("rrf_micros"))
    w = Window.partitionBy("_q").orderBy(F.col("rrf_micros").desc(), F.col("_i").asc())
    out = fused.withColumn("rank", F.row_number().over(w))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out.select(
        F.col("_q").alias(query_col), F.col("_i").alias(id_col), "rrf_micros", "rank"
    )


# -- maintained inverted index: the lexical twin of the ANN store CDC ---------


def bucketed_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_col: str = "bkt",
    n_buckets: int = 64,
) -> DataFrame:
    """The MAINTAINABLE inverted-index layout: one row per (term, doc)
    posting with tf, df, and impact rank, bucketed by
    ``pmod(xxhash64(term), n_buckets)`` so EVERY posting of a term —
    and therefore every df/rank recompute the term can ever need —
    lives in exactly one bucket directory. Write it
    ``partitionBy(bucket_col)``: a term lookup prunes to one bucket at
    file-listing time, and ``index_apply_changes`` rewrites only the
    buckets a document delta touches.

    Unlike ``build_inverted_index`` this keeps EVERY posting (no
    min_df/top_docs): a maintained store cannot prune, because a pruned
    posting could never be pulled back when a delete promotes it —
    apply serving-side pruning (rank <= k) at query time instead.

    Scale shape: one explode -> one map-side-combined (term, doc) hash
    agg -> one per-term window (df + rank ride the same exchange)."""
    return _rank_postings(_term_freqs(df, id_col, text_col), id_col).withColumn(
        bucket_col, _bucket(F.col("term"), n_buckets)
    )


def index_apply_changes(
    spark,
    index_dir: str,
    changes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "op",
    delete_op: str = "D",
    bucket_col: str = "bkt",
    n_buckets: int = 64,
    prepared: bool = False,
) -> int:
    """Fold a DOCUMENT change batch (id, text, op) into the bucketed
    inverted index — the lexical twin of ``ann_store_apply_changes``
    (same CDC contract: each id at most once per delta, delta is
    batch-sized): tokenize the changed docs (delta-sized explode), find
    the touched buckets (buckets of every NEW term plus buckets holding
    any OLD posting of a delta id — one column-pruned scan filtered by
    the delta ids), then rebuild ONLY those buckets: (old postings minus
    delta ids) ∪ new postings, with df and impact rank recomputed per
    term — complete and correct within the bucket because a term's
    postings never span buckets. Dynamic partition overwrite; emptied
    bucket dirs removed (the shared steps of
    ``functions.partitioning.fold_touched_buckets``). Returns the
    touched-bucket count.

    Scale contract: work ∝ touched buckets (a bucket holds ~vocab/N
    terms' postings), never the index; the df/rank window runs on the
    write's own shuffle by bucket, over touched-bucket rows only.
    n_buckets must match the build — it is the store's physical
    contract, like the ANN store's cell count.

    A delta carrying an id twice raises ``ValueError`` before any file
    changes. ``prepared=True`` asserts the caller ALREADY cut the delta's
    lineage (e.g. a caller folding the same checkpointed delta into
    several stores, or the streaming fold, which cuts each micro-batch
    once) and skips only the entry cut; a prepared delta that was NOT cut
    re-runs its (possibly non-deterministic) lineage on every
    reference."""
    return fold_touched_buckets(
        index_dir,
        store.read_store(spark, index_dir),
        changes,
        lambda ups: _term_freqs(ups, id_col, text_col).withColumn(
            bucket_col, _bucket(F.col("term"), n_buckets)
        ),
        id_col, bucket_col, op_col, delete_op,
        rebuild=lambda merged: _rank_postings(merged, id_col, bucket_col),
        prepared=prepared,
    )


def doc_norms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_col: str = "nbkt",
    n_buckets: int = 64,
) -> DataFrame:
    """The norms companion table of the maintained index — Lucene's norms
    file as a lakehouse table: one row per document with its term count
    (``dl``: its non-empty lowercase whitespace tokens, the
    ``functions.text.terms`` convention), bucketed by
    ``pmod(xxhash64(id), n_buckets)`` so a document delta rewrites only
    its ids' buckets. BM25 needs dl for every MATCHED doc and (n_docs,
    avgdl) globally; deriving dl from the postings would scan every term
    bucket a doc touches — the separate narrow table is the standard
    design. A doc with no terms (NULL, empty or whitespace-only text)
    carries no row: it can never match and counts in neither n_docs nor
    avgdl, as in every BM25 scorer of this module."""
    return (
        _doc_terms(df, id_col, text_col)
        .groupBy("_id")
        .agg(F.count(F.lit(1)).cast("long").alias("dl"))
        .select(
            F.col("_id").alias(id_col), "dl", _bucket(F.col("_id"), n_buckets).alias(bucket_col)
        )
    )


def norms_from_postings(
    postings: DataFrame,
    id_col: str = "doc_id",
    bucket_col: str = "nbkt",
    n_buckets: int = 64,
) -> DataFrame:
    """Derive the ``doc_norms`` companion table from an ALREADY-BUILT
    postings frame (or the postings store read back off disk) instead of
    re-tokenizing the corpus: ``dl == sum(tf)`` over a doc's postings by
    construction — both count exactly the doc's non-empty whitespace
    tokens. At corpus scale this replaces the second full text
    parse + explode + hash-agg pass of a from-text ``doc_norms`` build
    with a column-pruned columnar scan of two integer columns
    (optimization guide §2.3 "shuffle keys and metadata instead of
    payloads" applied to the build: the text is parsed once, in the
    postings build). Output contract identical to ``doc_norms``
    (zero-token docs carry no postings, hence no norms row)."""
    return (
        postings.groupBy(F.col(id_col))
        .agg(F.sum("tf").cast("long").alias("dl"))
        .select(
            F.col(id_col),
            "dl",
            _bucket(F.col(id_col), n_buckets).alias(bucket_col),
        )
    )


def norms_apply_changes(
    spark,
    norms_dir: str,
    changes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "op",
    delete_op: str = "D",
    bucket_col: str = "nbkt",
    n_buckets: int = 64,
    prepared: bool = False,
) -> int:
    """Fold a document change batch into the norms table: per-doc rows are
    independent (no cross-doc windows, unlike postings), so the touched
    buckets are exactly the delta ids' buckets — (old rows minus delta
    ids) ∪ new norms, dynamic partition overwrite, emptied dirs removed.
    Same delta contract as ``index_apply_changes`` (each id once,
    batch-sized); run both folds on the same delta to keep the store
    pair consistent. The one-row-per-id check makes each delta row one
    norms row: a per-row projection, no explode and no groupBy.
    ``prepared=True`` as in ``index_apply_changes``: it skips only the
    entry cut, and a duplicate id raises either way."""
    return fold_touched_buckets(
        norms_dir,
        store.read_store(spark, norms_dir),
        changes,
        lambda ups: _doc_lengths(ups, id_col, text_col).filter(F.col("_dl") > 0).select(
            F.col("_id").alias(id_col),
            F.col("_dl").cast("long").alias("dl"),
            _bucket(F.col("_id"), n_buckets).alias(bucket_col),
        ),
        id_col, bucket_col, op_col, delete_op,
        bucket_of_id=_bucket(F.col(id_col), n_buckets),
        prepared=prepared,
    )


def bm25_from_index(
    spark,
    index_dir: str,
    norms_dir: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    id_col: str = "doc_id",
    bucket_col: str = "bkt",
    n_buckets: int = 64,
    k1: float = 1.2,
    b: float = 0.75,
    k: int | None = None,
    max_queries: int = 100_000,
) -> DataFrame:
    """Serve exact BM25 FROM the maintained store pair — what
    ``bm25_scores_multi`` computes from raw text, answered instead from
    the bucketed postings (tf, df pre-aggregated) + norms (dl, corpus
    stats), the production lexical-serving shape: query terms resolve to
    their buckets DRIVER-SIDE, so the postings scan prunes to those
    bucket directories at file-listing time (assert PartitionFilters —
    the index exists precisely for this); matched postings join norms
    for dl and a one-row (n_docs, avgdl) broadcast; per-term integer
    micros then the associative bigint sum — the identical arithmetic to
    ``bm25_scores_multi``, so the two paths agree bit-for-bit.

    Scale shape: NO corpus text is touched at query time. Cost = the
    probed bucket files + one norms join bounded by matched docs + one
    narrow norms aggregate for the stats row (Lucene reads its norms
    file the same way; maintain a stats sidecar additively if even that
    scan matters). Returns (query_id, id_col, bm25_micros), top-``k``
    per query when ``k`` is given (rank window: micros desc, id asc).

    Query side: per the ``brute_force_topk`` contract the query frame is
    collected to the driver in ONE job, bounded by ``max_queries``; that
    job also computes each query's distinct terms and their buckets (with
    the index's own hash expression), and the (query, term) rows re-enter
    the plan as a driver-built ``LocalRelation``, so the caller's frame is
    never scanned again. When only one query has terms, the matched
    postings are that query's already (the scan keeps its terms), so its
    id joins them as a literal and nothing is broadcast for it.

    Jobs: six for one query on a small store (4 cores), seven for a frame
    of several. The query collect, then the scored plan's: the broadcast
    of the query terms (several queries only), the broadcasts of the
    norms (AQE's choice at this size) and of the stats row, the stats
    aggregate's stage, the one shuffle by query id, and the result. That
    shuffle (``min(queries, defaultParallelism)`` partitions)
    serves both the (query, doc) sum and the rank window, which would
    otherwise shuffle twice. Neither store read runs a schema-inference
    job: ``store.read_parquet`` takes each schema from one footer on the
    driver."""
    q_rows = collect_bounded(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.transform(F.array_distinct(terms(F.col(query_text_col))), lambda t: F.struct(
                t.alias("term"), _bucket(t, n_buckets).alias("_b"),
            )).alias("_tb"),
        ),
        max_queries,
        f"bm25_from_index collects the query side to the driver; got "
        f">{max_queries} query rows (max_queries={max_queries}). Chunk "
        f"the query set.",
    )
    term_rows = [(r["_qid"], t["term"], t["_b"]) for r in q_rows for t in r["_tb"] or ()]
    wanted = sorted({t for _, t, _ in term_rows})
    if not wanted:
        raise ValueError("queries contain no terms")
    bkts = sorted({b for _, _, b in term_rows})
    qids = {qid for qid, _, _ in term_rows}
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    posts = (
        store.read_parquet(spark, index_dir)
        .filter(F.col(bucket_col).isin(bkts))     # prunes at file listing
        .filter(F.col("term").isin(wanted))
        .select("term", F.col(id_col).alias("_id"), "tf", "df")
    )
    if len(qids) == 1:
        # the wanted terms are the one query's own: no (query, term) join
        matched = posts.withColumn("_qid", F.lit(next(iter(qids))).cast(qid_type))
    else:
        qterms = local_frame(spark, [(qid, t) for qid, t, _ in term_rows], f"_qid {qid_type}, term string")
        matched = qterms.join(posts, "term")
    norms = store.read_parquet(spark, norms_dir).select(
        F.col(id_col).alias("_id"), "dl"
    )
    n_parts = min(len(qids), spark.sparkContext.defaultParallelism)
    out = (
        matched
        .join(norms, "_id")
        .crossJoin(F.broadcast(_corpus_stats(norms, "dl")))
        .repartition(n_parts, "_qid")  # the one shuffle of the sum and the rank window
        .groupBy("_qid", "_id")
        .agg(F.sum(_bm25_micros("tf", "df", "dl", "_n_docs", "_avgdl", k1, b)).alias("bm25_micros"))
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_id").alias(id_col),
            "bm25_micros",
        )
    )
    if k is not None:
        w = Window.partitionBy(query_id_col).orderBy(
            F.col("bm25_micros").desc(), F.col(id_col).asc()
        )
        out = out.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
    return out


def rebucket_postings(
    spark, root: str, n_buckets: int, bucket_col: str = "bkt"
) -> int:
    """Re-bucket the VERSIONED postings store — the lexical analogue of
    the ANN retrain-and-swap: when vocabulary growth skews the term-hash
    buckets (or the bucket count must grow with the corpus), read the
    CURRENT version, recompute ``pmod(xxhash64(term), n_buckets)``, and
    publish the result as the next version (``sycamore_spark/store.py``;
    the versioned layout is generic over any partition column): concurrent
    readers keep the old layout until ``store.vacuum``. Posting CONTENT
    (term, df, rank, doc_id, tf) is untouched: only physical placement
    changes, so a term lookup on the new layout returns identical rows
    through a different (possibly narrower) file listing.

    Shape: one column-recompute scan + the publish's ONE hash shuffle on
    the new bucket column — the same cost as a compaction pass."""
    cur = store.read_parquet(spark, store.current_dir(spark, root))
    out = cur.drop(bucket_col).withColumn(bucket_col, _bucket(F.col("term"), n_buckets))
    return store.publish(spark, root, out.repartition(F.col(bucket_col)), bucket_col)


# ---------------------------------------------------------------------------
# ColBERT-style late-interaction MaxSim
# ---------------------------------------------------------------------------


def maxsim_scores(
    queries_df: DataFrame,
    docs_df: DataFrame,
    query_id: str = "query_id",
    doc_id: str = "doc_id",
    query_text: str = "text",
    doc_text: str = "text",
    dim: int = 16,
    max_doc_tokens: int = 20,
    top_k: int = 10,
    max_query_tokens: int = 256,
) -> DataFrame:
    """ColBERT-style late-interaction scoring (Khattab & Zaharia 2020
    §3.1 MaxSim): score(q, d) = sum over (distinct) query tokens of the
    MAX cosine between that query token's vector and any document token
    vector — token-level interaction deferred until scoring, the
    published middle ground between bi-encoder dot products and full
    cross-encoders. The real model's contextual token embeddings are an
    environment-gated seam everywhere in this repo; the deterministic
    stand-in is a fastText-style subword encoder (Bojanowski et al. 2017):
    each token's vector is its l2-normalized hashed char-TRIGRAM counts
    (md5 buckets — oracle-replicable), so morphologically close tokens
    score in (0, 1), not the degenerate 0/1 a whole-token hash gives.

    Scale shape — the query side is QUERY-SCALE by contract
    (``max_query_tokens`` guard raises before the collect): the query
    token vectors are collected and COMPILED into sparse codegen dot
    expressions (zero terms skipped — exact, since adding x*0.0 never
    perturbs a finite double sum), so the whole interaction is ONE
    whole-stage-codegen projection over the exploded doc tokens followed
    by ONE hash aggregate per doc (a max column per query token — never
    a doc-token x query-token row explosion, no nested-loop join, no
    interpreted higher-order functions in the hot path; an earlier
    HOF-dot + broadcast-BNL formulation measured ~4x slower wall on the
    sf1-equivalent corpus). ``maxsim_micros`` = the sum of each query
    token's micro-QUANTIZED best similarity (quantize-then-sum keeps the
    cross-token sum an integer sum — order-independent across engines).
    Corpus cost: linear in docs x max_doc_tokens, independent of the
    corpus vocabulary. Returns (query_id, doc_id, rank, maxsim_micros),
    rank by (maxsim_micros desc, doc_id asc) per query, top ``top_k``
    rows."""
    from sycamore_spark.operators.dedup import md5_hash60
    from sycamore_spark.operators.embed import hashing_embedding_expr

    def tok_frame(frame, idc, textc, limit):
        toks = F.array_distinct(terms(F.col(textc)))
        if limit is not None:
            toks = F.slice(toks, 1, limit)
        return frame.select(
            F.col(idc).alias("_tid"), F.explode(toks).alias("_tok")
        )

    def tri_text(t):
        return F.concat_ws(
            " ",
            F.when(
                F.length(t) >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.length(t) - 2),
                    lambda i: t.substr(i, F.lit(3)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )

    vec_expr = lambda t: hashing_embedding_expr(tri_text(t), dim, hash_fn=md5_hash60)  # noqa: E731

    qt = tok_frame(queries_df, query_id, query_text, None)
    q_rows = collect_bounded(
        qt.withColumn("_vec", vec_expr(F.col("_tok"))),
        max_query_tokens,
        f"maxsim_scores compiles the query token vectors into the plan; "
        f"got >{max_query_tokens} (query_id, token) rows "
        f"(max_query_tokens={max_query_tokens}). Chunk the query set.",
    )
    qid_type = queries_df.schema[query_id].dataType
    out_schema = (
        f"{query_id} {qid_type.simpleString()}, "
        f"{doc_id} {docs_df.schema[doc_id].dataType.simpleString()}, "
        f"rank int, maxsim_micros long"
    )
    if not q_rows:
        return local_frame(queries_df.sparkSession, [], out_schema)

    # vectors once per DISTINCT doc token (the corpus vocabulary — tiny
    # next to the exploded token stream), then joined back: the HOF-heavy
    # encoder runs |vocab| times, not |docs x tokens| times
    dt = tok_frame(docs_df, doc_id, doc_text, max_doc_tokens)
    dvocab = dt.select("_tok").distinct().withColumn(
        "_dv", vec_expr(F.col("_tok"))
    )
    dv = dt.join(dvocab, "_tok").select(F.col("_tid").alias("_did"), "_dv")
    # one sparse codegen dot per (query, token); one max column each
    aggs, by_qid = [], {}
    for j, r in enumerate(q_rows):
        parts = [
            F.element_at(F.col("_dv"), i + 1).cast("double") * F.lit(float(v))
            for i, v in enumerate(r["_vec"])
            if v != 0.0
        ]
        dot = sum(parts[1:], parts[0]) if parts else F.lit(0.0)
        aggs.append(F.max(dot).alias(f"_m{j}"))
        by_qid.setdefault(r["_tid"], []).append(j)
    per_doc = dv.groupBy("_did").agg(*aggs)
    q = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    scores = F.array(*[
        F.struct(
            F.lit(qid).cast(qid_type).alias("_qid"),
            sum(
                (q(F.col(f"_m{j}")) for j in js[1:]),
                q(F.col(f"_m{js[0]}")),
            ).alias("_s"),
        )
        for qid, js in by_qid.items()
    ])
    stacked = per_doc.select("_did", F.explode(scores).alias("_x")).select(
        "_did",
        F.col("_x._qid").alias("_qid"),
        F.col("_x._s").alias("maxsim_micros"),
    )
    w = Window.partitionBy("_qid").orderBy(
        F.col("maxsim_micros").desc(), F.col("_did").asc()
    )
    return (
        stacked.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_did").alias(doc_id),
            "rank",
            "maxsim_micros",
        )
    )


def qlm_scores(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    mu: float = 300.0,
    k: int | None = None,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001 §2.2) — the language-modeling ranking family beside BM25
    (bm25_scores_multi) and late interaction (maxsim_scores):

        score(q, d) = sum_t ln( (tf + mu * p(t|C)) / (dl + mu) )

    computed via the standard rank-equivalent decomposition: a matched
    term contributes ``ln(1 + tf * |C| / (mu * cf))`` and every scored
    doc adds ``|q| * ln(mu / (dl + mu))`` (the length-normalization
    term), where cf is the collection term frequency and |C| the total
    token count. Query terms with cf = 0 (corpus-OOV) are dropped —
    Dirichlet smoothing assigns them p(t|C) = 0, which is outside the
    model. Only docs matching >= 1 query term are returned (the usual
    inverted-index candidate semantics).

    Determinism: each matched-term contribution AND the per-doc length
    term are micro-quantized before combining, so the score is an exact
    bigint expression (sum of matched micros + n_terms * length micros)
    — order-independent and oracle-replayable, the bm25_scores
    convention. Scale shape identical to bm25_scores_multi: corpus
    tokens semi-join-pruned to the query vocabulary, query-vocab-bounded
    broadcasts, one scalar stats broadcast; returns (query_id_col,
    id_col, qlm_micros) plus rank when ``k`` is set ((micros desc, id
    asc) ties)."""
    dl = _doc_lengths(df, id_col, text_col)
    total = dl.agg(F.sum(_counted(F.col("_dl"))).cast("double").alias("_ctot"))
    qterms = _query_terms(queries, query_id_col, query_text_col)
    wanted = qterms.select("_tok").distinct()
    matched = _doc_terms(df, id_col, text_col).join(wanted, "_tok", "left_semi")
    cf = matched.groupBy("_tok").agg(F.count(F.lit(1)).cast("double").alias("_cf"))
    # corpus-OOV query terms drop here (inner join vs cf > 0 by construction)
    qin = qterms.join(F.broadcast(cf.select("_tok")), "_tok")
    nq = qin.groupBy("_qid").agg(F.count(F.lit(1)).alias("_nq"))

    tf = matched.groupBy("_id", "_tok").agg(F.count(F.lit(1)).alias("_tf"))
    term = (
        qin.join(tf, "_tok")
        .join(F.broadcast(cf), "_tok")
        .crossJoin(F.broadcast(total))
    )
    term_micros = F.floor(
        F.log(
            F.lit(1.0)
            + (F.col("_tf").cast("double") * F.col("_ctot"))
            / (F.lit(mu) * F.col("_cf"))
        ) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")
    per_pair = (
        term.withColumn("_tm", term_micros)
        .groupBy("_qid", "_id")
        .agg(F.sum("_tm").alias("_msum"))
    )
    len_micros = F.floor(
        F.log(F.lit(mu) / (F.col("_dl").cast("double") + F.lit(mu)))
        * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")
    out = (
        per_pair.join(dl, "_id")
        .join(F.broadcast(nq), "_qid")
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_id").alias(id_col),
            (F.col("_msum") + F.col("_nq") * len_micros).cast("long").alias("qlm_micros"),
        )
    )
    if k is None:
        return out
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("qlm_micros").desc(), F.col(id_col).asc()
    )
    return out.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def rm3_expand(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    mu: float = 300.0,
    fb_docs: int = 5,
    fb_terms: int = 5,
    orig_weight: float = 0.5,
) -> DataFrame:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft 2001 relevance
    models; the RM3 interpolation of Abdul-Jaleel et al. 2004): run
    first-pass Dirichlet QL retrieval (``qlm_scores``), build the RM1
    relevance model over the top ``fb_docs`` feedback documents —
    ``p(w|R) = sum_d p(w|d) * p(q|d)`` with softmax-normalized document
    posteriors — interpolate with the uniform original-query model at
    ``orig_weight``, and keep the top ``fb_terms`` expansion terms per
    query. Returns the EXPANDED WEIGHTED QUERY MODEL
    (query_id_col, term, weight_micros, is_original) — the input a
    weighted second-pass scorer consumes; emitting the model rather than
    re-scoring keeps the two passes independently testable.

    Determinism across engines: first-pass scores are exact bigints
    (qlm_scores), so the feedback set is exact; document posteriors
    ``exp((s_d - max_s)/1e6)`` and their normalization are IEEE doubles
    with libm exp (proven bit-identical cross-engine), quantized to
    micros at the model boundary; the final top-``fb_terms`` selection
    ranks on (weight_micros desc, term asc) — integer ties only.

    Scale shape: round 1 is the qlm shape (semi-join pruned postings);
    the feedback set is (queries x fb_docs) rows — QUERY-SCALE — so every
    RM1 aggregate runs over feedback-doc tokens only (a semi-join against
    the feedback ids bounds the explode), and the per-query model is
    fb_terms + |q| rows. Nothing corpus-scale shuffles twice."""
    # QUERY-SCALE (queries x fb_docs rows) but its lineage is the whole
    # corpus-scale first-pass scoring; four downstream consumers would
    # re-run round 1 once each — cut it eagerly (materializes ~dozens of
    # rows, runs round 1 exactly once)
    fb = lineage_cut(
        qlm_scores(
            df, queries, id_col, text_col, query_id_col, query_text_col,
            mu=mu, k=fb_docs,
        ).select(
            F.col(query_id_col).alias("_qid"),
            F.col(id_col).alias("_fid"),
            "qlm_micros",
        )
    )
    # softmax doc posteriors within each query's feedback set
    # (query-scale). EVERY cross-row float sum below is quantized to a
    # fixed-point bigint first — double addition is order-dependent and
    # the engines do not aggregate in the same order (DuckDB windows use
    # segment trees); integer sums are exact in any order.
    mx = fb.groupBy("_qid").agg(F.max("qlm_micros").alias("_mx"))
    post = fb.join(mx, "_qid").withColumn(
        "_e12",
        F.floor(
            F.exp((F.col("qlm_micros") - F.col("_mx")).cast("double")
                  / F.lit(1_000_000.0)) * F.lit(1e12) + F.lit(0.5)
        ).cast("long"),
    )
    esum = post.groupBy("_qid").agg(F.sum("_e12").alias("_es"))
    post = post.join(esum, "_qid").withColumn(
        "_pd", F.col("_e12").cast("double") / F.col("_es").cast("double")
    )

    # p(w|d) over feedback docs only: semi-join bounds the explode
    fids = post.select(F.col("_fid").alias("_id")).distinct()
    toks = _doc_terms(df, id_col, text_col).join(fids, "_id", "left_semi")
    tf = toks.groupBy("_id", "_tok").agg(F.count(F.lit(1)).alias("_tf"))
    dl = toks.groupBy("_id").agg(F.count(F.lit(1)).alias("_dl"))
    pwd = tf.join(dl, "_id").select(
        "_id", "_tok",
        (F.col("_tf").cast("double") / F.col("_dl").cast("double")).alias("_pwd"),
    )
    rm1 = (
        post.join(pwd, post["_fid"] == pwd["_id"])
        .withColumn(
            "_c12",
            F.floor(F.col("_pd") * F.col("_pwd") * F.lit(1e12) + F.lit(0.5))
            .cast("long"),
        )
        .groupBy("_qid", "_tok")
        .agg(F.sum("_c12").alias("_rm1"))
    )
    # normalize RM1 per query (exact bigint totals)
    rtot = rm1.groupBy("_qid").agg(F.sum("_rm1").alias("_rt"))
    rm1n = rm1.join(rtot, "_qid").withColumn(
        "_p", F.col("_rm1").cast("double") / F.col("_rt").cast("double")
    )

    qterms = _query_terms(queries, query_id_col, query_text_col)
    nq = qterms.groupBy("_qid").agg(F.count(F.lit(1)).alias("_nq"))
    orig = qterms.join(nq, "_qid").select(
        "_qid", "_tok",
        (F.lit(1.0) / F.col("_nq").cast("double")).alias("_porig"),
        F.lit(1).alias("_is_orig"),
    )
    mixed = (
        orig.join(rm1n.select("_qid", "_tok", "_p"), ["_qid", "_tok"], "full_outer")
        .select(
            "_qid", "_tok",
            (
                F.lit(orig_weight) * F.coalesce(F.col("_porig"), F.lit(0.0))
                + F.lit(1.0 - orig_weight) * F.coalesce(F.col("_p"), F.lit(0.0))
            ).alias("_w"),
            F.coalesce(F.col("_is_orig"), F.lit(0)).alias("is_original"),
        )
        .withColumn(
            "weight_micros",
            F.floor(F.col("_w") * F.lit(1_000_000.0) + F.lit(0.5)).cast("long"),
        )
    )
    # keep every original term + the top fb_terms EXPANSION terms
    wrank = Window.partitionBy("_qid").orderBy(
        F.col("weight_micros").desc(), F.col("_tok").asc()
    )
    exp_terms = (
        mixed.where(F.col("is_original") == 0)
        .withColumn("_rn", F.row_number().over(wrank))
        .where(F.col("_rn") <= fb_terms)
        .drop("_rn")
    )
    return (
        mixed.where(F.col("is_original") == 1)
        .unionByName(exp_terms)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_tok").alias("term"),
            "weight_micros",
            F.col("is_original").cast("int").alias("is_original"),
        )
    )
