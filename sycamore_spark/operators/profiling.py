"""Dataset profiling operators for scale planning.

At 100 TB the difference between a smooth job and a stuck one is usually a
single hot key: one reducer gets the skewed partition and becomes the
critical path. ``key_skew_profile`` is the pre-flight check that surfaces
those keys so the pipeline can route them through ``salted_join``
(operators/joins.py) or AQE skew handling before they burn a cluster-day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sycamore_spark.functions import text as T


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    fp_col: str,
) -> DataFrame:
    """Snapshot diff between two corpus versions: one row per document id
    with status ``added`` (only in new), ``removed`` (only in old),
    ``changed`` (both, fingerprints differ), or ``unchanged``. The
    dataset-versioning primitive: what moved between yesterday's crawl and
    today's, which shards need re-embedding, what a rollback would touch.

    Plan shape: one full-outer hash join on the id — at 100 TB, run it per
    date/source partition (both sides pruned to the same partition) so the
    join is co-located and the shuffle is per-partition-sized. Carries only
    (id, fingerprint) through the join; payloads stay in place.
    """
    o = old.select(F.col(id_col).alias("_oid"), F.col(fp_col).alias("_ofp"))
    n = new.select(F.col(id_col).alias("_nid"), F.col(fp_col).alias("_nfp"))
    j = o.join(n, o["_oid"] == n["_nid"], "full_outer")
    status = (
        F.when(F.col("_oid").isNull(), F.lit("added"))
        .when(F.col("_nid").isNull(), F.lit("removed"))
        .when(F.col("_ofp") != F.col("_nfp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.coalesce(F.col("_nid"), F.col("_oid")).alias(id_col),
        status.alias("status"),
    )


def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 20) -> DataFrame:
    """Heavy-hitter profile of a prospective join/group key: the ``top_n``
    largest keys with row count, share of total rows, and skew ratio
    (count vs the mean rows-per-key — a ratio of R means that key's
    reducer does R× the average work).

    Plan shape: one hash-agg shuffle on the key (with map-side partial
    aggregation) + a one-row totals broadcast + a top-n sort. No driver
    collection; safe on any cardinality.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("_total"), F.count(F.lit(1)).alias("_nkeys")
    )
    # one-row scalar broadcast: Catalyst plans this as a nested-loop with a
    # single-row build side — O(n) streamed, the scalar-subquery shape
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "cnt",
            (F.col("cnt").cast("double") / F.col("_total")).alias("share"),
            (F.col("cnt").cast("double") * F.col("_nkeys") / F.col("_total")).alias("skew_ratio"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top_n)
    )


def histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-width histogram for data profiling: bucket =
    floor((v - lo) / (hi - lo) * n), clamped to [0, n-1] with
    out-of-range values in the edge buckets — explicit arithmetic (not an
    engine builtin) so any SQL engine replays the exact bucket ids.
    One hash aggregate; empty buckets are absent (join a bucket spine if
    a dense axis is needed)."""
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(n_buckets))
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1)).cast("bigint")
    keys = [F.col(c) for c in (group_cols or [])]
    return (
        df.groupBy(*keys, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def corpus_divergence(
    df: DataFrame,
    side_col: str,
    side_a: str,
    side_b: str,
    text_col: str = "text",
) -> DataFrame:
    """Symmetric token-distribution drift between two corpus slices:
    add-1-smoothed unigram distributions over the JOINT vocabulary and
    both KL divergences, KL(A||B) and KL(B||A) — the distribution-shift
    monitor for "did this month's crawl change?" / "does the mixture
    match the target corpus?".

    Exactness: each token's contribution ``p_a * ln(p_a / p_b)``
    quantizes to integer NANOS before the sum (probabilities are ~1e-5,
    so micros would lose the signal) — bigint sums are
    partitioning-independent and the whole computation replays in SQL.
    Plan: one token hash-agg per side (computed in a single pass with
    conditional counts) + a full-outer token join + scalar broadcasts.
    """
    toks = df.select(
        F.col(side_col).alias("_s"),
        F.explode(T.tokens(F.col(text_col))).alias("_tok"),
    ).filter((F.length("_tok") > 0) & F.col("_s").isin(side_a, side_b))
    counts = toks.groupBy("_tok").agg(
        F.sum(F.when(F.col("_s") == side_a, 1).otherwise(0)).alias("_ca"),
        F.sum(F.when(F.col("_s") == side_b, 1).otherwise(0)).alias("_cb"),
    )
    totals = counts.agg(
        F.sum("_ca").alias("_na"),
        F.sum("_cb").alias("_nb"),
        F.count(F.lit(1)).alias("_v"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    pa = (F.col("_ca") + F.lit(1.0)) / (F.col("_na") + F.col("_v")).cast("double")
    pb = (F.col("_cb") + F.lit(1.0)) / (F.col("_nb") + F.col("_v")).cast("double")
    nanos = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("long")  # noqa: E731
    return j.agg(
        F.sum(nanos(pa * F.log(pa / pb))).alias("kl_ab_nanos"),
        F.sum(nanos(pb * F.log(pb / pa))).alias("kl_ba_nanos"),
        F.first("_na").cast("bigint").alias("n_tokens_a"),
        F.first("_nb").cast("bigint").alias("n_tokens_b"),
        F.first("_v").cast("bigint").alias("vocab"),
    )


def categorical_divergence(
    df_a: DataFrame, df_b: DataFrame, key_col: str
) -> DataFrame:
    """``corpus_divergence``'s exactness contract applied to an already-
    categorical column (no tokenization): add-1-smoothed distributions of
    ``key_col`` over the JOINT key set and both KL divergences as integer
    nanos. The ANN re-train monitor composes this over cell_id (store vs
    new ingest batch — codebooks trained on yesterday's distribution
    route today's vectors into the wrong cells long before recall
    visibly collapses); it is equally the label/source/shard drift check.

    Plan: one conditional-count hash agg over the union (map-side
    combined, one row per key) + a one-row totals broadcast + a one-row
    reduce — kilobyte-scale regardless of input size."""
    tagged = df_a.select(F.col(key_col).alias("_k"), F.lit(1).alias("_a")).unionByName(
        df_b.select(F.col(key_col).alias("_k"), F.lit(0).alias("_a"))
    )
    counts = tagged.groupBy("_k").agg(
        F.sum("_a").alias("_ca"),
        F.sum(F.lit(1) - F.col("_a")).alias("_cb"),
    )
    totals = counts.agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb"), F.count(F.lit(1)).alias("_v")
    )
    j = counts.crossJoin(F.broadcast(totals))
    pa = (F.col("_ca") + F.lit(1.0)) / (F.col("_na") + F.col("_v")).cast("double")
    pb = (F.col("_cb") + F.lit(1.0)) / (F.col("_nb") + F.col("_v")).cast("double")
    nanos = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("long")  # noqa: E731
    return j.agg(
        F.sum(nanos(pa * F.log(pa / pb))).alias("kl_ab_nanos"),
        F.sum(nanos(pb * F.log(pb / pa))).alias("kl_ba_nanos"),
        F.first("_na").cast("bigint").alias("n_a"),
        F.first("_nb").cast("bigint").alias("n_b"),
        F.first("_v").cast("bigint").alias("n_keys"),
    )


def validate_expectations(
    df: DataFrame, rules: dict[str, "str | F.Column"]
) -> DataFrame:
    """Great-Expectations-style data-quality gate as ONE aggregation pass:
    ``rules`` maps rule name -> boolean expression (SQL string or
    Column); the result is one row per rule with (rule, n_rows, n_fail,
    ok). Null rule results count as FAILURES (an expectation that cannot
    be evaluated did not pass — the conservative contract).

    Every rule is a conditional sum inside a single ``agg``, so a
    hundred expectations still cost one scan and no shuffle beyond the
    final one-row reduce; the per-rule melt is over that single row.
    Wire ``ok`` into pipeline control flow (refuse to publish a shard
    whose expectations fail) — the validation itself never moves data.
    """
    exprs = []
    names = list(rules)
    for name in names:
        rule = rules[name]
        cond = F.expr(rule) if isinstance(rule, str) else rule
        exprs.append(
            F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)).alias(f"_f_{name}")
        )
    row = df.agg(F.count(F.lit(1)).alias("_n"), *exprs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("_n").alias("n_rows"),
                F.coalesce(F.col(f"_f_{name}"), F.lit(0)).alias("n_fail"),
            )
            for name in names
        ]
    )
    ex = row.select(F.explode(pairs).alias("_r")).select(
        F.col("_r.rule").alias("rule"),
        F.col("_r.n_rows").cast("bigint").alias("n_rows"),
        F.col("_r.n_fail").cast("bigint").alias("n_fail"),
    )
    return ex.withColumn("ok", (F.col("n_fail") == 0).cast("bigint"))


def robust_scale(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    out_col: str = "scaled_micros",
) -> DataFrame:
    """Median/IQR feature scaling — the normalization that survives the
    heavy-tailed distributions quality scores and doc lengths actually
    have (mean/stddev scaling lets one outlier set the scale):

        scaled = (v - median) / (q75 - q25)

    quantized to integer micros. Exact percentiles (Spark ``percentile``
    == DuckDB ``quantile_cont`` bit-for-bit) computed per group in one
    aggregate and broadcast back — the data itself is not reshuffled.
    Zero-IQR groups (constant bulk) yield NULL, same convention as
    ``monitor.mad_outliers``. At corpus scale swap the exact percentile
    for the KLL sketch (operators/sketches.py) and bucket by range."""
    gcols = group_cols or []
    v = F.col(value_col).cast("double")
    stats = df.groupBy(*[F.col(c) for c in gcols]).agg(
        F.percentile(v, F.lit(0.5)).alias("_med"),
        (F.percentile(v, F.lit(0.75)) - F.percentile(v, F.lit(0.25))).alias("_iqr"),
    )
    j = df.join(F.broadcast(stats), gcols) if gcols else df.crossJoin(F.broadcast(stats))
    scaled = F.when(
        F.col("_iqr") > F.lit(0.0),
        F.floor((v - F.col("_med")) / F.col("_iqr") * F.lit(1e6) + F.lit(0.5)).cast("long"),
    )
    return j.withColumn(out_col, scaled).drop("_med", "_iqr")


def join_size_estimate(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Exact inner-join OUTPUT cardinality without running the join:
    |A ⋈ B| = Σ_k count_A(k)·count_B(k). Two hash aggregates (each a
    map-side-combined count of its own table) and one join between the
    PER-KEY COUNT tables — the shuffle carries one row per distinct key,
    not the data. The what-if profiler to run before committing a 100 TB
    join: ``max_key_rows`` is the skew hotspot a salted join would need
    to handle, and ``rows_out`` vs ``matched_keys`` is the fan-out.

    Returns one row: (matched_keys, rows_out, max_key_rows). Products and
    sums carried in DECIMAL(38,0) — exact far past BIGINT overflow, which
    a hot-key square would hit."""
    ca = a.groupBy(*key_cols).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_ca"))
    cb = b.groupBy(*key_cols).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_cb"))
    per_key = ca.join(cb, key_cols).select(
        (F.col("_ca") * F.col("_cb")).cast("decimal(38,0)").alias("_rows")
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("matched_keys"),
        F.sum("_rows").cast("decimal(38,0)").cast("bigint").alias("rows_out"),
        F.max("_rows").cast("decimal(38,0)").cast("bigint").alias("max_key_rows"),
    )
