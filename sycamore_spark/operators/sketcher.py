"""Sketching + near-dup uniquify.

Reference parity: ``Sketcher`` writes shingle sketches into ``doc.shingles``
(reference: transforms/sketcher.py:29); ``SketchUniquify`` then drops
near-duplicate docs by sketch distance (sketcher.py:64). Here the sketch is
the 64-perm MinHash signature (operators/dedup.py) and uniquify keeps the
lowest-id member of each near-dup pair set — a distributed join + anti-join
instead of the reference's driver-side distance scan."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sycamore_spark.functions.partitioning import lineage_cut
from sycamore_spark.operators import dedup


def sketch(df: DataFrame, id_col: str = "doc_id", text_col: str = "text_representation",
           num_perm: int = 64, shingle_k: int = 3) -> DataFrame:
    """Attach the minhash signature as ``shingles`` (array<bigint>).

    A per-row withColumn, NOT a join back onto df: the earlier
    self-join form computed the whole upstream lineage twice (once for
    the signature side, once for the probe side) — in a composed pipeline
    (doc_etl_e2e) that doubled every upstream Arrow stage."""
    return df.drop("shingles").withColumn(
        "shingles", dedup.minhash_signature_col(text_col, num_perm, shingle_k)
    )


def sketch_uniquify(df: DataFrame, id_col: str = "doc_id", text_col: str = "text_representation",
                    threshold: float = 0.8, num_perm: int = 64, bands: int = 32,
                    shingle_k: int = 3) -> DataFrame:
    """Drop near-duplicates, keeping the smallest id of each duplicate group
    (union-find-free approximation: a row is dropped iff it appears as the
    *larger* id of some qualifying pair — same keep-first-seen semantics as
    the reference's sequential scan for pairwise clusters)."""
    pairs = dedup.minhash_lsh_pairs(df, id_col, text_col, threshold, num_perm, bands, shingle_k)
    return df.join(dedup._larger_ids(pairs, id_col), id_col, "left_anti")


# ---------------------------------------------------------------------------
# Reference-faithful rolling sketch (transforms/sketcher.py:29-62): normalize
# (strip \W, NFKC, lowercase), slide a 17-byte Rabin-Karp window, keep the 16
# smallest scrambled hashes.
# ---------------------------------------------------------------------------


def rolling_sketch(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text_representation",
                   window: int = 17, number: int = 16) -> DataFrame:
    """Attach the reference's byte-level sketch as ``shingles``."""
    import re
    import unicodedata

    from pyspark.sql.types import ArrayType, LongType

    from sycamore_spark.functions.text import char_shingles_py

    unwanted = re.compile(r"\W+")

    @F.pandas_udf(ArrayType(LongType()))
    def _sketch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            norm = unicodedata.normalize("NFKC", unwanted.sub("", t or "")).lower()
            out.append(char_shingles_py(norm.encode("utf-8"), window, number))
        return pd.Series(out)

    return df.drop("shingles").withColumn("shingles", _sketch(F.col(text_col)))


def rolling_sketch_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text_representation",
                         threshold: float = 0.4, window: int = 17,
                         number: int = 16) -> DataFrame:
    """Near-dup pairs by sketch distance < ``threshold`` (the reference
    SketchUniquify criterion, driver-side there — distributed here).

    The sketch IS a min-hash set, so shared values are the natural LSH:
    candidates share >= 1 shingle (complete for any threshold < 1 - 1/number,
    since dist < t forces >= (1-t)*number matches >= 1); the exact
    shinglesDist verifies. One equi-join shuffle on the shingle value.
    Returns (id_a, id_b, dist)."""
    from pyspark.sql.types import DoubleType

    from sycamore_spark.functions.text import shingles_dist

    sk = rolling_sketch(df, id_col, text_col, window, number).select(
        F.col(id_col).alias("_id"), F.col("shingles").alias("_v")
    ).persist()
    posting = sk.select("_id", F.explode("_v").alias("_h")).distinct()
    cand = dedup._blocked_pairs(posting, posting, ["_h"])

    @F.pandas_udf(DoubleType())
    def _dist(sa: pd.Series, sb: pd.Series) -> pd.Series:
        return pd.Series([shingles_dist(list(x), list(y)) for x, y in zip(sa, sb)])

    out = dedup._verified(
        cand, sk, _dist(F.col("_va"), F.col("_vb")), lambda d: d < threshold, "dist"
    )
    # materialize the (small, pairs-only) result through the cache, then
    # release it — persisted operators must not leak executor state
    out = lineage_cut(out)
    sk.unpersist()
    return out


def rolling_sketch_uniquify(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text_representation",
                            threshold: float = 0.4) -> DataFrame:
    """SketchUniquify parity: drop the larger id of every near-dup pair."""
    pairs = rolling_sketch_pairs(df, id_col, text_col, threshold)
    return df.join(dedup._larger_ids(pairs, id_col), id_col, "left_anti")
