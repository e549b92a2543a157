"""Text-analysis expressions: tokenization, quality, language-ID, fingerprints.

All built from native pyspark.sql.functions (JVM-side, whole-stage codegen) —
no Python UDFs in the hot path. Reference analogues: tokenizers
(reference: lib/sycamore/sycamore/functions/tokenizer.py:6-62), term_frequency
(transforms/term_frequency.py:8). The quality/language/fingerprint functions
are the large-scale training-data additions (no reference equivalent).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# A tiny embedded stopword list — enough for ratio features and n-gram
# heuristic language ID without external model files.
EN_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on with as at by from",
)
_EN_SET = sorted(set(EN_STOPWORDS[0].split()))

# Marker words per language for the n-gram heuristic classifier.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}


def tokens(col: Column, lower: bool = True, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization → array<string>. Trimmed first so leading/
    trailing whitespace can't produce empty tokens."""
    c = F.trim(col)
    c = F.lower(c) if lower else c
    return F.split(c, pattern)


def terms(col: Column) -> Column:
    """The retrieval term array: the non-empty lowercase whitespace tokens.
    ``trim`` strips only spaces, so a text that starts or ends with a tab or
    newline (or is empty) splits to empty strings; those are not terms.
    NULL text gives NULL (no terms). Every BM25/QLM scorer and store
    builder tokenizes documents and queries with this one expression."""
    return F.array_remove(tokens(col), "")


def token_count(col: Column) -> Column:
    """Whitespace token count (BPE-ish subword count ≈ chars/4 is a separate
    estimator, see bpe_token_estimate)."""
    return F.size(F.split(F.trim(col), r"\s+"))


def bpe_token_estimate(col: Column) -> Column:
    """Deterministic BPE-like token-count estimate: word pieces from a regex
    split on word boundaries / punctuation plus a chars/4 floor — the standard
    cheap proxy used for budget accounting in training pipelines."""
    pieces = F.size(F.split(col, r"(?<=\W)|(?=\W)"))
    return F.greatest(pieces, (F.length(col) / F.lit(4)).cast("int"))


def stopword_ratio(col: Column) -> Column:
    """Fraction of tokens that are English stopwords (quality feature)."""
    toks = tokens(col)
    stop = F.array(*[F.lit(w) for w in _EN_SET])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop))
    # ratio over distinct tokens; cheap and monotone with classic ratio
    return (n_stop / F.greatest(F.size(F.array_distinct(toks)), F.lit(1))).cast("double")


def punct_ratio(col: Column) -> Column:
    non_alnum = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return (non_alnum / F.greatest(F.length(col), F.lit(1))).cast("double")


def mean_word_length(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return (total / F.greatest(F.size(toks), F.lit(1))).cast("double")


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0,1]: rewards reasonable
    length, low punctuation noise, presence of stopwords (prose-ness)."""
    length_ok = F.when(F.length(col).between(20, 100000), F.lit(1.0)).otherwise(F.lit(0.25))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))
    prose = F.least(stopword_ratio(col) * 5, F.lit(1.0))
    return ((length_ok + punct_ok + prose) / F.lit(3.0)).cast("double")


def lang_id(col: Column) -> Column:
    """Heuristic language ID: count marker-word hits per language over the
    distinct token set; argmax with 'und' (undetermined) fallback."""
    toks = F.array_distinct(tokens(col))
    scores = []
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        scores.append((lang, F.size(F.array_intersect(toks, marker_arr))))
    best = F.lit("und")
    best_score = F.lit(0)
    # Iterate deterministically; strictly-greater keeps first-wins tie order.
    for lang, score in scores:
        is_better = score > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. Stable across engines (md5 is standardized), used as
    the exact-dedup key."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(normalized)


def word_shingles(col: Column, k: int = 3, sep: str = "_") -> Column:
    """k-word shingles as array<string> via native higher-order functions
    (reference shingling: lib/sycamore/sycamore/functions/simhash.py).

    The token array is let-bound through a transform-over-1-element-array
    before the positional scan: HOFs re-evaluate their whole inner
    expression per element, so slicing ``split(text)`` directly inside the
    lambda re-runs the regex split at every shingle position (measured ~4x
    on shingle-heavy queries)."""

    def _build(arr: Column) -> Column:
        n = F.size(arr)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n < k, F.array(F.array_join(arr, sep))).otherwise(
            F.transform(idx, lambda i: F.array_join(F.slice(arr, i + 1, k), sep))
        )

    return F.flatten(F.transform(F.array(tokens(col)), _build))


def word_shingle_hashes(col: Column, k: int = 3) -> Column:
    """xxhash64 per k-word shingle WITHOUT materializing shingle strings:
    the k shifted token slices are zipped (all native) and each struct is
    hashed field-wise. HOF string building (array_join over a slice per
    element) runs interpreted and allocates; this shape leaves only a cheap
    per-element hash inside the one unavoidable transform. Short texts
    (< k tokens) hash the joined remainder, mirroring ``word_shingles``."""
    toks = tokens(col)
    n = F.size(toks)
    fields = "struct<" + ",".join(f"g{i}:string" for i in range(k)) + ">"
    zipped = F.when(
        n < k,
        F.array(F.struct(
            F.array_join(toks, "_").alias("g0"),
            *[F.lit(None).cast("string").alias(f"g{i}") for i in range(1, k)],
        )).cast(f"array<{fields}>"),
    ).otherwise(
        F.arrays_zip(*[F.slice(toks, 1 + i, n - k + 1).alias(f"g{i}") for i in range(k)])
    )
    return F.transform(zipped, lambda t: F.xxhash64(*[t[f"g{i}"] for i in range(k)]))


# ---------------------------------------------------------------------------
# Byte-level rolling-hash shingles (reference: functions/simhash.py
# shinglesCalc/shinglesDist + functions/rabin_karp.py RkWindow). The
# reference slides a width-`window` Rabin-Karp hash over the UTF-8 bytes,
# scrambles each window hash (MT19937-64 mix constants), and keeps the
# `number` smallest distinct values; the Spark shape here computes all
# window hashes with `window` vectorized shifted adds mod the RK prime —
# no per-byte Python loop — inside one Arrow-batched kernel.
# ---------------------------------------------------------------------------

_RK_PRIME = 36028797018963913  # largest prime < 2^55 (reference rabin_karp.py)
_MIX_MULT = 6364136223846793005  # MT19937-64 f-value (reference simhash.py:15)
_MIX_ADD = 9223372036854775783  # largest prime < 2^63


def char_shingles_py(data: bytes, window: int = 17, number: int = 16):
    """shinglesCalc semantics for one document (numpy-vectorized):
    lowest ``number`` distinct scrambled window hashes, cyclically repeated
    when fewer exist, ``[0]*number`` for text shorter than the window."""
    b = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    n_hashes = len(b) - window + 1
    if n_hashes <= 0:
        return [0] * number
    acc = np.zeros(n_hashes, dtype=np.int64)
    for k in range(window):
        w = pow(256, window - 1 - k, _RK_PRIME)
        acc = (acc + b[k : k + n_hashes] * w) % _RK_PRIME
    with np.errstate(over="ignore"):
        scrambled = (
            acc.view(np.uint64) * np.uint64(_MIX_MULT) + np.uint64(_MIX_ADD)
        ) & np.uint64(0x7FFFFFFFFFFFFFFF)
    ary = np.unique(scrambled.view(np.int64))  # sorted distinct
    nn = len(ary)
    if nn < number:
        copies = (number + nn - 1) // nn
        ary = np.sort(np.tile(ary, copies))
    return [int(x) for x in ary[:number]]


def char_shingles(col: Column, window: int = 17, number: int = 16) -> Column:
    """Column form of ``char_shingles_py`` (array<bigint> per row)."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _calc(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [char_shingles_py((t or "").encode("utf-8"), window, number) for t in texts]
        )

    return _calc(col)


def shingles_dist(a: list[int], b: list[int]) -> float:
    """shinglesDist: (max_len - sorted-merge matches) / max_len in [0, 1]
    (reference simhash.py:115-126)."""
    ai = bi = matches = 0
    while ai < len(a) and bi < len(b):
        if a[ai] < b[bi]:
            ai += 1
        elif b[bi] < a[ai]:
            bi += 1
        else:
            matches += 1
            ai += 1
            bi += 1
    denom = max(len(a), len(b))
    return 1.0 if denom == 0 else (denom - matches) / denom
