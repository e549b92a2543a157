"""Dedup operator semantics on crafted near-duplicates."""

import pytest
from pyspark.sql import functions as F

from sycamore_spark.operators import dedup, sketcher

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
    (3, "completely different content about database systems and query optimization"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),    # exact dup of 1
    (5, "  The quick brown fox jumps over the lazy dog near the river bank today "),  # case/ws dup of 1
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_dedup_normalizes(spark):
    out = dedup.exact_dedup(_df(spark), "doc_id", "text").collect()
    by_id = {r.doc_id: r.dup_count for r in out}
    assert by_id[1] == 3  # 1, 4, and 5 (case+whitespace normalized)
    assert len(out) == 3


def test_jaccard_pairs(spark):
    pairs = {(r.id_a, r.id_b) for r in
             dedup.jaccard_similar_pairs(_df(spark), "doc_id", "text", threshold=0.8).collect()}
    assert (1, 4) in pairs and (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_finds_planted_pair(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             dedup.minhash_lsh_pairs(_df(spark), "doc_id", "text", threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_simhash_identical_distance_zero(spark):
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             dedup.simhash_near_dup_pairs(_df(spark), "doc_id", "text", max_hamming=10).collect()}
    assert pairs[(1, 4)] == 0
    assert pairs[(1, 5)] == 0  # case/whitespace-normalized dup
    assert not any(3 in p for p in pairs)


def test_embedding_near_dup(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    pairs = {(r.id_a, r.id_b) for r in
             dedup.embedding_near_dup_pairs(df, "vec_id", "embedding", threshold=0.99).collect()}
    assert pairs == {(1, 2)}


def test_embedding_lsh_matches_bruteforce_on_exact_dups(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2), 0.5]) for i in range(12)],
        "vec_id int, embedding array<float>",
    )
    brute = {(r.id_a, r.id_b) for r in
             dedup.embedding_near_dup_pairs(df, "vec_id", "embedding", threshold=0.999).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           dedup.embedding_near_dup_pairs_lsh(df, "vec_id", "embedding", threshold=0.999, dim=4).collect()}
    assert lsh == brute  # identical vectors always share every signature


def test_sketch_uniquify_keeps_lowest_id(spark):
    out = sketcher.sketch_uniquify(_df(spark).withColumnRenamed("text", "text_representation"),
                                   threshold=0.6)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 1 in ids and 4 not in ids and 3 in ids


def test_sketch_attaches_signature(spark):
    out = sketcher.sketch(_df(spark).withColumnRenamed("text", "text_representation"))
    row = out.filter(F.col("doc_id") == 1).collect()[0]
    assert len(row.shingles) == 64


def test_rolling_sketch_and_uniquify(spark):
    from sycamore_spark.operators.sketcher import (
        rolling_sketch,
        rolling_sketch_pairs,
        rolling_sketch_uniquify,
    )

    base = "the quick brown fox jumps over the lazy dog and keeps running onward"
    rows = [
        (1, base),
        (2, base + " x"),       # near-duplicate
        (3, "completely different content about spark distributed engines and joins"),
        (4, base.upper()),      # normalization makes this an exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text_representation string")
    sk = {r["doc_id"]: r["shingles"] for r in rolling_sketch(df).collect()}
    assert len(sk[1]) == 16
    assert sk[1] == sk[4]  # lowercase normalization

    pairs = {(r["id_a"], r["id_b"]): r["dist"] for r in rolling_sketch_pairs(df).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 0.0
    assert (1, 2) in pairs and pairs[(1, 2)] < 0.4
    assert not any(3 in p for p in pairs)

    kept = sorted(r["doc_id"] for r in rolling_sketch_uniquify(df).collect())
    assert kept == [1, 3]  # 2 and 4 dropped as larger-id near-dups


def test_duplicate_window_stats(spark):
    from sycamore_spark.operators.dedup import duplicate_window_stats

    shared = "x" * 10 + "this exact shared paragraph is long enough to cover windows " * 2
    rows = [
        (1, shared + " tail one distinct here to vary the suffix considerably"),
        (2, shared + " completely different ending text over here that differs"),
        (3, "entirely unique document content with no overlap whatsoever at all, long enough for windows"),
        (4, "tiny"),  # shorter than one window -> 0 windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicate_window_stats(df, window=40, stride=20).collect()}
    assert len(out) == 4
    # docs 1 and 2 share a long prefix -> both have duplicated windows
    assert out[1].n_dup_windows > 0 and out[2].n_dup_windows > 0
    assert 0 < out[1].dup_fraction < 1
    # the unique doc has windows but none duplicated
    assert out[3].n_windows > 0 and out[3].n_dup_windows == 0 and out[3].dup_fraction == 0.0
    # sub-window doc: no windows, fraction 0 (not NaN, no phantom
    # descending-sequence windows)
    assert out[4].n_windows == 0 and out[4].n_dup_windows == 0 and out[4].dup_fraction == 0.0


# ---------------------------------------------------------------------------
# connected components + canonical selection (pairs -> clusters -> keep-list)
# ---------------------------------------------------------------------------


def test_connected_components_chain_and_clique(spark):
    """Multi-hop chains need real propagation (A-B, B-C, C-D: A never pairs
    with D directly) and separate cliques stay separate."""
    from sycamore_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4),          # chain 1-2-3-4 -> component 1
         (10, 11), (11, 10),              # duplicate+reversed edges collapse
         (20, 21), (21, 22), (20, 22)],   # triangle -> component 20
        "id_a long, id_b long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_string_ids(spark):
    from sycamore_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([("b", "a"), ("b", "c")], "id_a string, id_b string")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_canonical_docs_keep_list(spark):
    from sycamore_spark.operators.dedup import canonical_docs

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 4, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(2, 1), (2, 3), (3, 4)], "id_a long, id_b long")
    out = {r.doc_id: (r.component, r.is_canonical)
           for r in canonical_docs(docs, pairs).collect()}
    # cluster {1,2,3,4} keeps min id 1; untouched doc 9 is its own cluster
    assert out == {1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
                   9: (9, True)}
    keep = [d for d, (_, canon) in out.items() if canon]
    assert sorted(keep) == [1, 9]


def test_semantic_dedup_keeps_lowest_id(spark):
    # two tight groups on orthogonal axes + one isolated vector
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.999, 0.01, 0.0]),   # near-dup of 3
        (5, [0.0, 0.0, 0.0, 1.0]),      # isolated
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    out = {r.vec_id: (r.cluster, r.keep) for r in
           dedup.semantic_dedup(df, "vec_id", "embedding", cents, threshold=0.98).collect()}
    assert out[1] == (0, True) and out[2] == (0, False)
    assert out[3] == (1, True) and out[4] == (1, False)
    assert out[5] == (2, True)


def test_semantic_dedup_cross_cell_pairs_ignored(spark):
    # identical vectors forced into different cells are NOT compared:
    # SemDedup's trade — recall bounded by cell assignment
    vecs = [(1, [1.0, 1.0]), (2, [1.0, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    # centroids make vec 1/2 both land in cell 0; same cell -> pair found
    out = dedup.semantic_dedup(df, "vec_id", "embedding",
                               [[1.0, 1.0], [-1.0, -1.0]], threshold=0.99).collect()
    assert {(r.vec_id, r.keep) for r in out} == {(1, True), (2, False)}


def test_build_bloom_no_false_negatives(spark):
    df = spark.createDataFrame([(f"key-{i}",) for i in range(200)], "k string")
    bm = dedup.build_bloom(df, "k", nbits=1 << 12, nhashes=4)
    assert bm.dtype.name == "uint64" and len(bm) == (1 << 12) // 64
    assert int(bm.sum()) != 0


def test_incremental_dedup_exact(spark):
    corpus = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(100)], "id int, text string")
    new = spark.createDataFrame(
        [(1000 + i, f"text number {i}") for i in range(0, 50)]        # dups
        + [(2000 + i, f"brand new text {i}") for i in range(30)],     # novel
        "id int, text string")
    out = dedup.incremental_dedup(new, corpus, key_col="text", nbits=1 << 12)
    ids = {r.id for r in out.collect()}
    assert ids == {2000 + i for i in range(30)}


def test_incremental_dedup_tiny_filter_still_exact(spark):
    # deliberately undersized bloom (high FP rate): the verify join must
    # keep the result exact anyway
    corpus = spark.createDataFrame([(i, f"c{i}") for i in range(50)], "id int, text string")
    new = spark.createDataFrame([(100 + i, f"n{i}") for i in range(50)], "id int, text string")
    out = dedup.incremental_dedup(new, corpus, key_col="text", nbits=64, nhashes=2)
    assert out.count() == 50


def test_prefix_filter_equals_bruteforce(spark):
    # the AllPairs/PPJoin prefix filter is an OPTIMIZATION: results must
    # equal the naive all-pairs jaccard on arbitrary corpora and thresholds
    import itertools
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randint(3, 15)))) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id int, text string")

    def brute(threshold):
        sets = {i: set(t.split()) for i, t in docs}
        out = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                out.add((a, b))
        return out

    for t in (0.5, 0.8, 0.95):
        got = {(r.id_a, r.id_b) for r in
               dedup.jaccard_similar_pairs(df, "doc_id", "text", threshold=t).collect()}
        assert got == brute(t), f"mismatch at threshold {t}"


def test_soft_dedup_expected_one_copy_per_cluster(spark):
    """weight = 1e6 // size; singletons are ALWAYS kept (threshold == M);
    kept set is content-addressed — identical under repartitioning."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(12)], "doc_id long, text string"
    )
    # cluster {0..5} (clique via a star on 0), cluster {6,7}; 8-11 singletons
    pairs = spark.createDataFrame(
        [(0, j) for j in range(1, 6)] + [(6, 7)], "id_a long, id_b long"
    )
    out = dedup.soft_dedup(docs, pairs, "doc_id").collect()
    by_id = {r.doc_id: r for r in out}
    assert all(by_id[i].cluster_size == 6 for i in range(6))
    assert all(by_id[i].weight_micros == 1_000_000 // 6 for i in range(6))
    assert by_id[6].cluster_size == 2 and by_id[6].weight_micros == 500_000
    for i in range(8, 12):
        assert by_id[i].cluster_size == 1 and by_id[i].kept  # singleton: always kept
    again = dedup.soft_dedup(docs.repartition(7), pairs.coalesce(1), "doc_id").collect()
    assert sorted((r.doc_id, r.kept) for r in again) == sorted(
        (r.doc_id, r.kept) for r in out
    )


def test_split_leakage_counts_crossing_pairs_only(spark):
    docs = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "test"), (4, "valid")],
        "doc_id long, split string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    got = {
        (r.split_a, r.split_b): r.leaked_pairs
        for r in dedup.split_leakage(docs, pairs, "split").collect()
    }
    # (1,2) is intra-train; (1,3),(2,3) cross train/test; (3,4) cross test/valid
    assert got == {("test", "train"): 2, ("test", "valid"): 1}


def test_group_aware_split_has_zero_leakage(spark):
    """The composition the split_leakage gate certifies: splitting on the
    duplicate-cluster component leaves no crossing near-dup pairs."""
    from sycamore_spark.operators.sampling import group_aware_split

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(40)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 4)], "id_a long, id_b long"
    )
    labeled = dedup.canonical_docs(docs, pairs, "doc_id")
    safe = group_aware_split(labeled, "component", {"train": 0.5, "test": 0.5})
    assert dedup.split_leakage(safe, pairs, "split").count() == 0


def test_contamination_spans_exact_boundaries(spark):
    """A planted probe phrase inside a training doc yields exactly its
    [start, end) token span; clean docs produce no rows; two hits closer
    than L merge into one maximal span."""
    probes = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # tokens 2..8: "alpha beta gamma delta epsilon zeta" at [2, 8)
            (1, "x y alpha beta gamma delta epsilon zeta w v"),
            (2, "totally clean document with no overlap at all"),
            # the phrase twice, separated by one token -> L=4 grams don't
            # bridge the gap, but islands within each copy merge
            (3, "alpha beta gamma delta q alpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    out = dedup.contamination_spans(corpus, probes, min_len=4).collect()
    spans = {}
    for r in out:
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end, r.n_hit_grams))
    assert spans[1] == [(2, 8, 3)]  # 3 overlapping 4-grams merged to [2,8)
    assert 2 not in spans
    assert sorted(spans[3]) == [(0, 4, 1), (5, 9, 1)]


def test_contamination_spans_partitioning_independent(spark):
    probes = spark.createDataFrame(
        [(9, "one two three four five")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(i, f"pad{i} one two three four five tail{i}") for i in range(20)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, dedup.contamination_spans(corpus, probes, min_len=4).collect()))
    b = sorted(
        map(
            tuple,
            dedup.contamination_spans(
                corpus.repartition(5), probes.coalesce(1), min_len=4
            ).collect(),
        )
    )
    assert a == b and len(a) == 20 and all(r[1:] == (1, 6, 2) for r in a)


def test_remove_token_spans_cuts_exactly(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "keep all of me")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 2, 5, 3), (1, 6, 7, 1)], "doc_id long, span_start long, span_end long, n_hit_grams long"
    )
    out = {r.doc_id: r for r in dedup.remove_token_spans(docs, spans).collect()}
    assert out[1].clean_text == "a b f h"  # cut [2,5) and [6,7)
    assert out[1].n_tokens_before == 8 and out[1].n_tokens_after == 4
    assert out[2].clean_text == "keep all of me"
    assert out[2].n_tokens_after == 4


def test_decontaminate_roundtrip_removes_probe_phrase(spark):
    """contamination_spans -> remove_token_spans leaves NO probe 4-gram in
    the cleaned corpus."""
    probes = spark.createDataFrame(
        [(99, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "intro alpha beta gamma delta epsilon outro words here")],
        "doc_id long, text string",
    )
    spans = dedup.contamination_spans(corpus, probes, min_len=4)
    cleaned = dedup.remove_token_spans(corpus, spans)
    row = cleaned.collect()[0]
    assert row.clean_text == "intro outro words here"
    re_spans = dedup.contamination_spans(
        cleaned.select("doc_id", F.col("clean_text").alias("text")), probes, min_len=4
    )
    assert re_spans.count() == 0


def _brute_winnow(tokens, k, w):
    import hashlib

    grams = [
        hashlib.md5("\x1f".join(tokens[i : i + k]).encode()).hexdigest()
        for i in range(len(tokens) - k + 1)
    ]
    sel = set()
    for s in range(0, len(grams) - w + 1):
        win = grams[s : s + w]
        mn = min(win)
        pos = max(i for i, g in enumerate(win) if g == mn) + s
        sel.add((pos, mn))
    return sel


def test_winnowing_matches_bruteforce(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "a a a a a a a a a a",  # all-equal grams stress the rightmost tie rule
        "one two three four five six seven eight",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = dedup.winnowing_fingerprints(docs, k=4, w=4).collect()
    got = {}
    for r in out:
        got.setdefault(r.doc_id, set()).add((r.pos, r.gh))
    for i, txt in enumerate(texts):
        assert got.get(i, set()) == _brute_winnow(txt.lower().split(), 4, 4), i


def test_winnowing_guarantee_shared_run(spark):
    """Any shared token run >= w + k - 1 = 7 shares a fingerprint hash."""
    shared = "alpha beta gamma delta epsilon zeta eta"
    docs = spark.createDataFrame(
        [(1, f"intro words {shared} tail one"), (2, f"{shared} completely different end")],
        "doc_id long, text string",
    )
    out = dedup.winnowing_fingerprints(docs, k=4, w=4).collect()
    h1 = {r.gh for r in out if r.doc_id == 1}
    h2 = {r.gh for r in out if r.doc_id == 2}
    assert h1 & h2
    again = dedup.winnowing_fingerprints(
        docs.repartition(3), k=4, w=4
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_winnowing_overlap_pairs_finds_local_overlap(spark):
    """A 7-token passage shared between two otherwise-different docs is
    found; unrelated docs produce no pair."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    docs = spark.createDataFrame(
        [
            (1, f"unrelated preamble here {shared} and some tail"),
            (2, f"{shared} followed by totally different material"),
            (3, "nothing in common with anybody else at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.winnowing_overlap_pairs(docs, min_shared=1).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_paragraph_dedup_cuts_later_near_dup_windows(spark):
    """A repeated 5-token paragraph: the smallest-keyed occurrence stays,
    every later occurrence is excised; sub-shingle tail windows and
    NULL-text docs pass through intact."""
    from sycamore_spark.operators.dedup import paragraph_dedup

    para = "alpha beta gamma delta epsilon"
    uniq1 = "one two three four five"
    uniq2 = "six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (1, f"{para} {uniq1}"),   # window 0 = para (first occurrence, kept)
            (2, f"{uniq2} {para}"),   # window 1 = para -> cut
            (3, "tail tok"),          # 2 tokens < shingle_k: ineligible, kept
            (4, None),                # NULL text: one empty kept window
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in paragraph_dedup(docs, window=5, threshold=0.8).collect()
    }
    assert out[1].n_removed == 0 and out[1].clean_text == f"{para} {uniq1}"
    assert out[1].n_windows == 2
    assert out[2].n_removed == 1 and out[2].clean_text == uniq2
    assert out[2].n_tokens_before == 10 and out[2].n_tokens_after == 5
    assert out[3].n_removed == 0 and out[3].clean_text == "tail tok"
    assert out[4].n_removed == 0 and out[4].n_windows == 1
    assert out[4].clean_text == ""


def test_paragraph_dedup_near_duplicate_not_identical(spark):
    """Lightly-edited boilerplate: one changed token out of 10 alters only
    the final 3-shingle (jaccard 7/9 ~ 0.78), so the edited copy is cut at
    t=0.5 — the beyond-exact-match case suffix-array dedup misses; a copy
    with every other token edited shares no shingle and survives."""
    from sycamore_spark.operators.dedup import paragraph_dedup

    w = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    near = "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"      # last token edited
    far = "w1 zz w3 yy w5 xx w7 vv w9 uu"        # every other token edited
    docs = spark.createDataFrame(
        [(1, w), (2, near), (3, far)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in paragraph_dedup(docs, window=10, threshold=0.5).collect()
    }
    assert out[1].n_removed == 0
    assert out[2].n_removed == 1 and out[2].clean_text == ""
    assert out[3].n_removed == 0 and out[3].clean_text == far


def test_paragraph_dedup_docset_method(spark):
    from sycamore_spark.docset import DocSet

    para = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(1, f"{para} one two three four five"), (2, f"six seven eight nine ten {para}")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in DocSet(docs).paragraph_dedup(window=5).take_all()}
    assert out[2].n_removed == 1 and out[1].n_removed == 0


def test_paragraph_dedup_empty_and_null_text_zero_tokens(spark):
    """Empty / whitespace-only / NULL text must report ZERO tokens (not the
    split('')-artifact phantom token) on BOTH engines — the r11 ADVICE
    divergence: Spark's T.tokens('') yields [''] while the DuckDB oracle's
    list_filter(t != '') yields []. All three degenerate rows get one empty
    kept window, 0 tokens before/after, '' out, and the DuckDB replay of the
    gate SQL (coalesced n_tokens_before) agrees row-for-row."""
    import duckdb

    from sycamore_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "alpha beta gamma delta epsilon one two three four five"),
        (2, ""),
        (3, "   "),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in paragraph_dedup(docs, window=20).collect()}
    for did in (2, 3, 4):
        r = out[did]
        assert r.n_windows == 1 and r.n_removed == 0, (did, r)
        assert r.n_tokens_before == 0 and r.n_tokens_after == 0, (did, r)
        assert r.clean_text == "", (did, r)
    assert out[1].n_tokens_before == 10 and out[1].n_tokens_after == 10

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["paragraph_dedup_e2e"]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL' if t is None else repr(t)})" for i, t in rows
        )
        + ") AS v(doc_id, text)"
    )
    oracle = {
        row[0]: row
        for row in con.execute(sql + " ORDER BY doc_id").fetchall()
    }
    for did, r in out.items():
        o = oracle[did]
        assert (
            o[1], o[2], o[3], o[4], o[5]
        ) == (
            r.n_windows, r.n_removed, r.n_tokens_before,
            r.n_tokens_after, r.clean_text,
        ), (did, o, r)


def test_prototypicality_filter_rejects_colliding_columns(spark):
    """Input columns that collide with the appended (cluster, dist_q,
    proto_rank, cluster_n, kept) columns raise up front instead of putting
    duplicate field names in the mapInPandas output schema (r11 ADVICE;
    mirrors the dsir_select guard)."""
    import pytest

    from sycamore_spark.operators.clustering import prototypicality_filter

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 7)], "vec_id long, embedding array<double>, dist_q long"
    )
    with pytest.raises(ValueError, match="dist_q"):
        prototypicality_filter(df, [[1.0, 0.0], [0.0, 1.0]])


def test_semantic_dedup_oracle_zero_norm_guard():
    """An all-zero quantized vector (|x| < 1/(2*scale) per component) must
    NOT be treated as similar-to-everything by the DuckDB oracle: the raw
    cosine is NaN (NaN > 0.45 in DuckDB ordering), the Spark path
    nan_to_nums it to -2.0 and keeps the row. Both the semantic_dedup and
    d4_e2e oracle SQL now CASE-guard zero norms; replay them on a corpus
    containing a zero vector and check nobody gets dropped for it."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    # vec 1 and 2 are near-identical (true dup pair); vec 3 quantizes to the
    # zero vector (every |component| < 0.5/scale) and must stay kept on both
    # oracles. Dimension matches the gate's 64-dim centroid model.
    dim = 64
    v1 = [1.0] + [0.0] * (dim - 1)
    v2 = [0.999, 0.001] + [0.0] * (dim - 2)
    v3 = [0.0001] * dim
    lit = lambda v: "[" + ", ".join(str(x) for x in v) + "]::DOUBLE[]"
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        f"(1, {lit(v1)}), (2, {lit(v2)}), (3, {lit(v3)})"
        ") AS v(vec_id, embedding)"
    )
    sem = dict(
        con.execute(
            "SELECT vec_id, keep FROM (" + entry.oracle_sql()["semantic_dedup"] + ")"
        ).fetchall()
    )
    assert sem[3] is True and sem[1] is True and sem[2] is False, sem
    d4 = dict(
        con.execute(
            "SELECT vec_id, kept FROM (" + entry.oracle_sql()["d4_e2e"] + ")"
        ).fetchall()
    )
    assert 3 in d4, d4


def test_instruction_pool_filter_semantics(spark):
    """Self-Instruct pool filter: near-dups of POOL instructions are
    dropped; batch-internal near-dups are both kept (batch-vs-pool
    orientation); distinct instructions survive."""
    from sycamore_spark.operators.dedup import instruction_pool_filter

    pool = spark.createDataFrame(
        [
            (100, "write a short story about a robot learning to paint"),
            (101, "list five healthy breakfast ideas for busy mornings"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-dup of pool 100 (one token changed) -> dropped
            (1, "write a short story about a robot learning to dance"),
            # distinct -> kept
            (2, "explain the rules of chess to a complete beginner"),
            # batch-internal near-dups of each other, not of pool -> BOTH kept
            (3, "summarize the plot of the novel in two sentences"),
            (4, "summarize the plot of the novel in three sentences"),
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id: r.n_tokens for r in instruction_pool_filter(
        batch, pool, threshold=0.7
    ).collect()}
    assert set(kept) == {2, 3, 4}
    assert kept[2] == 9


def test_embedding_decontaminate(spark):
    """Corpus rows too similar to any test vector drop; empty test set
    keeps everything with NULL max_cos; oversize test set raises."""
    import pytest

    from sycamore_spark.operators.dedup import embedding_decontaminate

    corp = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),   # == test vec -> dropped
            (2, [0.0, 1.0, 0.0]),   # orthogonal -> kept, max_cos 0
            (3, [1.0, 1.0, 0.0]),   # cos = 1/sqrt(2) -> dropped
        ],
        "vec_id long, embedding array<double>",
    )
    test = spark.createDataFrame(
        [(9, [2.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = {r.vec_id: r.max_cos_micros for r in embedding_decontaminate(
        corp, test, threshold=0.5
    ).collect()}
    assert out == {2: 0}
    empty = embedding_decontaminate(
        corp, test.where("vec_id < 0"), threshold=0.5
    ).collect()
    assert {r.vec_id for r in empty} == {1, 2, 3}
    assert all(r.max_cos_micros is None for r in empty)
    with pytest.raises(ValueError):
        embedding_decontaminate(corp, test, max_test=0)


def test_instruction_pool_filter_degenerate_fragments(spark):
    """Single-token instructions: identical text vs pool -> dropped via
    the exact channel (NOT the hot empty-signature LSH bucket); distinct
    single tokens -> kept. Mixed with normal instructions."""
    from sycamore_spark.operators.dedup import instruction_pool_filter

    pool = spark.createDataFrame(
        [(100, "stop"), (101, "write a haiku about distributed systems")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, "stop"), (2, "go"), (3, "write a haiku about distributed file")],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in instruction_pool_filter(batch, pool).collect()}
    assert kept == {2}  # 1 exact-dup of pool; 3 near-dup (F1 = 10/12)


# -- the pair core ------------------------------------------------------------


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_null_text_is_never_a_duplicate(spark, ansi):
    """NULL text has no items, so no pair operator pairs it and uniquify
    keeps every NULL-text doc. With ANSI off ``size(NULL)`` is -1, and two
    NULL shingle sets scored -1/-1 = 1.0; two NULL texts had simhash 0 and
    paired at hamming 0."""
    with_nulls = spark.createDataFrame(DOCS + [(6, None), (7, None)], "doc_id int, text string")

    def pairs(docs):
        return [
            sorted(tuple(r) for r in op.collect()) for op in (
                dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5),
                dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5, shingle_k=1),
                dedup.jaccard_similar_pairs(docs, "doc_id", "text", threshold=0.5, ngram=2),
                dedup.containment_pairs(docs, "doc_id", "text", threshold=0.5, ngram=2),
                dedup.containment_lsh_pairs(docs, "doc_id", "text", threshold=0.8, ngram=2),
                dedup.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3),
            )
        ]

    prior = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        assert pairs(with_nulls) == pairs(_df(spark))
        kept = sketcher.sketch_uniquify(
            with_nulls.withColumnRenamed("text", "text_representation"), threshold=0.6
        )
        assert {r.doc_id for r in kept.collect()} == {1, 3, 6, 7}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


def test_containment_lsh_repeated_calls_add_no_caches(spark):
    """The candidate and set caches a call leaves are found by plan on an
    identical later call, so three calls leave as many persisted RDDs as
    one (a driver-built lookup table made every call's plan new)."""
    df = _df(spark)
    jsc = spark.sparkContext._jsc

    def call():
        out = dedup.containment_lsh_pairs(df, "doc_id", "text", threshold=0.9)
        return sorted(tuple(r) for r in out.collect())

    first = call()
    after_one = jsc.getPersistentRDDs().size()
    assert call() == first
    assert call() == first
    assert jsc.getPersistentRDDs().size() == after_one


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_minhash_blocks_no_null_text(spark, monkeypatch, ansi):
    """NULL-text docs get no band keys: with 300 of them beside five
    unrelated texts the banding join makes no candidate pair at all (they
    used to share one signature and form one quadratic block)."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "a stitch in time saves nine they always say",
        "every cloud has a silver lining in the end",
        "all that glitters is not gold said the merchant",
        "fortune favours the bold and the well prepared",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)) + [(100 + i, None) for i in range(300)], "doc_id int, text string"
    )
    blocked = []
    real = dedup._blocked_pairs

    def recorded(*args, **kwargs):
        blocked.append(real(*args, **kwargs))
        return blocked[-1]

    monkeypatch.setattr(dedup, "_blocked_pairs", recorded)
    prior = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        assert dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect() == []
        assert [c.count() for c in blocked] == [0]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


def test_simhash_leaves_no_signature_cache(spark):
    """Two calls on different inputs leave no persisted frame behind: the
    signature is not cached (both blocking sides read one exchange)."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    got = [
        sorted(tuple(r) for r in dedup.simhash_near_dup_pairs(docs, "doc_id", "text").collect())
        for docs in (_df(spark), _df(spark).filter(F.col("doc_id") != 2))
    ]
    assert got[0] and got[1] == [p for p in got[0] if 2 not in p[:2]]
    assert jsc.getPersistentRDDs().size() == before
