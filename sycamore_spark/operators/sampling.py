"""Deterministic sampling and training-shard packing.

Beyond the reference (which has only ``DocSet.random_sample`` — RNG-based,
non-reproducible across runs/cluster sizes): the two sampling shapes a
training-data pipeline actually needs at 100 TB.

- ``hash_sample`` — content-addressed sampling: a row is in the sample iff
  ``hash(key) mod M < fraction*M``. The SAME rows are selected on every
  run, any cluster size, any partitioning — which makes samples joinable
  across pipeline stages (sample the documents table today, sample the
  embeddings table tomorrow, the doc_ids line up). Pure narrow filter:
  no shuffle, pushes down to the scan where the key is a stored column.
- ``stratified_hash_sample`` — per-stratum fractions (e.g. downsample web
  text to 10%, keep books at 100%) via one map lookup + the same hash
  test. The dataset-mixing primitive. No shuffle.
- ``pack_shards`` — pack variable-length documents into training shards of
  ~``budget`` tokens: one window cumsum over a deterministic order inside
  each partition key, ``floor((cumsum - size) / budget)`` as the shard id
  (every shard except the last overshoots the boundary by at most one
  document, the standard greedy packing). One shuffle on the pack key;
  at scale, pack within date/source partitions so no single ordering
  bottlenecks.

Hashes are md5-prefix based (not xxhash64) so a DuckDB oracle can replay
them exactly — same trick as dedup.md5_hash60.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sycamore_spark.functions.text import tokens

_MOD = 1_000_000  # sampling resolution: fraction quantized to 1e-6

# Separator for composite shard/sequence/bin ids. A printable separator
# ('-'/'_') aliases distinct groups when a partition VALUE contains it
# ("a-b" + shard 0 vs "a" + shard "b-0"); chr(31) (ASCII unit separator)
# cannot appear in the numeric components and is vanishingly unlikely in
# partition values — the same injective-encoding choice storesync makes
# for its sync keys (ADVICE r12).
PACK_SEP = "\x1f"


def _hash_bucket(key: Column) -> Column:
    """Uniform bucket in [0, 1e6) from the md5 of the key's string form —
    engine-agnostic (DuckDB: ``('0x' || substr(md5(k), 1, 15))::BIGINT``)."""
    h60 = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    return F.pmod(h60, F.lit(_MOD))


def hash_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Keep ~``fraction`` of rows, selected by key content (deterministic,
    reproducible, partitioning-independent)."""
    return df.filter(_hash_bucket(F.col(key)) < int(fraction * _MOD))


# above this many strata a chained when() builds an expression tree that is
# slow to analyze/codegen; switch to a broadcast map-join of the config
_WHEN_CHAIN_MAX = 32


def stratified_hash_sample(
    df: DataFrame, key: str, stratum: str, fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: ``fractions`` maps stratum value
    -> keep fraction; strata not listed keep ``default_fraction``. Small
    maps compile to one narrow when()-chain filter (no shuffle at all);
    large mixture configs (hundreds of sources) become a broadcast hash
    join against the tiny config table — still no shuffle of the data."""
    if len(fractions) <= _WHEN_CHAIN_MAX:
        thresh = F.lit(int(default_fraction * _MOD))
        for val, frac in fractions.items():
            thresh = F.when(F.col(stratum) == val, F.lit(int(frac * _MOD))).otherwise(thresh)
        return df.filter(_hash_bucket(F.col(key)) < thresh)
    cfg = df.sparkSession.createDataFrame(
        [(str(v), int(f * _MOD)) for v, f in fractions.items()],
        schema="_stratum_val string, _thresh long",
    )
    joined = df.join(
        F.broadcast(cfg), df[stratum].cast("string") == cfg["_stratum_val"], "left"
    )
    thresh = F.coalesce(F.col("_thresh"), F.lit(int(default_fraction * _MOD)))
    return joined.filter(_hash_bucket(F.col(key)) < thresh).drop("_stratum_val", "_thresh")


def weighted_hash_sample(df: DataFrame, key: str, weight: Column) -> DataFrame:
    """Importance sampling: keep each row with probability ``weight`` (a
    per-row column in [0, 1] — typically a quality score), decided by the
    same content-addressed hash test as ``hash_sample``. The
    quality-weighted data-mixing primitive (keep high-quality docs at
    ~100%, downsample low-quality tails proportionally) — deterministic,
    reproducible at any cluster size, and a pure narrow filter: no
    shuffle, no RNG state."""
    return df.filter(
        _hash_bucket(F.col(key)) < F.floor(weight * F.lit(float(_MOD)) + F.lit(0.5))
    )


def group_aware_split(
    df: DataFrame, group_col: str, splits: dict[str, float], split_col: str = "split"
) -> DataFrame:
    """Contamination-safe train/valid/test assignment: every row is routed
    by hashing its GROUP key — a dup-cluster component id
    (dedup.canonical_docs), a content fingerprint, or a source domain — so
    near-duplicates and siblings always land in the SAME split and the
    eval set cannot leak training near-dups. ``splits`` maps split name ->
    fraction (must sum to <= 1; remainder goes to the last split listed).
    Pure narrow projection: no shuffle."""
    bucket = _hash_bucket(F.col(group_col))
    names = list(splits)
    expr = F.lit(names[-1])
    acc = 0.0
    cuts = []
    for name, frac in splits.items():
        acc += frac
        cuts.append((name, int(acc * _MOD)))
    for name, cut in reversed(cuts[:-1]):
        expr = F.when(bucket < cut, F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def mixture_plan(
    df: DataFrame,
    stratum: str,
    target: dict[str, float],
    weight_col: str | None = None,
) -> DataFrame:
    """Compute the downsampling plan that achieves a TARGET mixture (e.g.
    {'web': 0.6, 'books': 0.2, 'code': 0.2}) from the corpus's actual
    per-stratum counts, keeping as much data as possible: the stratum with
    the scarcest supply relative to its target binds the total
    (binding = min over strata of count/target_share), and every stratum
    keeps ``binding * target_share / count`` of its rows (<= 1 by
    construction; strata outside the target keep 0). Feed the resulting
    fractions straight into ``stratified_hash_sample`` to apply the plan.

    One hash-agg over the stratum + a one-row binding broadcast — the
    plan for a 100 TB corpus costs one aggregation.

    Returns per stratum: count, share, target_share, keep_fraction,
    expected_rows (= floor(keep * count + 0.5)).

    ``weight_col``: mixtures for LM training are TOKEN-denominated, not
    document-denominated — pass a per-row integer size column (token or
    char count) and the plan balances summed weight instead of row count
    (``cnt``/``expected_rows`` are then in weight units). Row-hash
    sampling still applies the plan: keep_fraction of a stratum's rows ~=
    keep_fraction of its tokens when lengths are iid within the stratum.

    ``weight_col`` must be non-null: a NULL weight contributes nothing to
    the stratum's budget (``sum`` skips it) yet the row-hash sampler still
    samples the row, so strata with many NULL-weight rows get a budget
    computed from a subset while sampling the full stratum. ENFORCED
    in-plan: any NULL weight fails the job with a descriptive error
    (an ``assert_true`` folded into the same aggregate — no extra pass;
    the round-9 validation pattern). Coalesce to an explicit size (or
    filter NULL-weight rows) before calling.
    """
    tgt = F.lit(None).cast("double")
    for name, frac in reversed(list(target.items())):
        tgt = F.when(F.col("stratum") == name, F.lit(float(frac))).otherwise(tgt)
    if weight_col:
        counts = df.groupBy(F.col(stratum).alias("stratum")).agg(
            F.sum(weight_col).alias("cnt"),
            F.sum(
                F.when(F.col(weight_col).isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("_n_null_w"),
        )
        guard = F.assert_true(
            F.col("_n_null_w") == 0,
            F.concat(
                F.lit(
                    f"mixture_plan: weight_col '{weight_col}' has "
                ),
                F.col("_n_null_w").cast("string"),
                F.lit(" NULL row(s) in stratum '"),
                F.col("stratum").cast("string"),
                F.lit(
                    "'; NULL weights skew the budget/population mismatch — "
                    "coalesce to an explicit size or filter them first"
                ),
            ),
        )
        counts = counts.filter(guard.isNull()).drop("_n_null_w")
    else:
        counts = df.groupBy(F.col(stratum).alias("stratum")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
    counts = counts.withColumn("target_share", tgt)
    totals = counts.agg(
        F.sum("cnt").alias("_total"),
        F.min(
            F.when(F.col("target_share") > 0, F.col("cnt").cast("double") / F.col("target_share"))
        ).alias("_binding"),
    )
    keep = F.when(
        F.col("target_share") > 0,
        F.col("_binding") * F.col("target_share") / F.col("cnt").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "stratum",
            "cnt",
            (F.col("cnt").cast("double") / F.col("_total")).alias("share"),
            F.coalesce("target_share", F.lit(0.0)).alias("target_share"),
            keep.alias("keep_fraction"),
            F.floor(keep * F.col("cnt").cast("double") + F.lit(0.5)).cast("bigint").alias("expected_rows"),
        )
        .orderBy("stratum")
    )


def _schema_bytes_per_row(schema) -> int:
    """Text-realistic bytes/row from the schema, for dividing plan
    sizeInBytes into a row estimate. Fixed-width types use their width;
    variable-width types use corpus-realistic sizes (string 512, binary
    1024) rather than Catalyst's tiny defaults (string=20), because on a
    training corpus a small divisor turns KB-sized rows into a 10-50x
    row-count OVER-estimate and the global-window warning fires on
    nearly everything. Floored at 64."""
    from pyspark.sql import types as T

    def sz(dt) -> int:
        if isinstance(dt, T.StringType):
            return 512
        if isinstance(dt, T.BinaryType):
            return 1024
        if isinstance(dt, T.StructType):
            return sum(sz(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return 16 * sz(dt.elementType)
        if isinstance(dt, T.MapType):
            return 16 * (sz(dt.keyType) + sz(dt.valueType))
        if isinstance(dt, (T.BooleanType, T.ByteType)):
            return 1
        if isinstance(dt, (T.ShortType,)):
            return 2
        if isinstance(dt, (T.IntegerType, T.FloatType, T.DateType)):
            return 4
        return 8  # long / double / timestamp / decimal-ish

    return max(64, sum(sz(f.dataType) for f in schema.fields))


# spark.sql.defaultSizeInBytes defaults to Long.MaxValue; leaf relations
# with no real statistics report it (or products of it) as sizeInBytes.
# Anything this large is "unknown", not "huge".
_UNKNOWN_SIZE_SENTINEL = 1 << 62


def _estimated_rows(df: DataFrame) -> int | None:
    """Row-count estimate from Catalyst plan statistics — NO Spark job.

    Uses the optimized plan's CBO rowCount when available, else
    sizeInBytes divided by a schema-derived text-realistic bytes/row
    (see _schema_bytes_per_row — a flat small divisor OVER-estimates
    rows on text-heavy corpora and the warning over-fires). Returns
    None when statistics are unreachable or sizeInBytes is the
    defaultSizeInBytes unknown-stats sentinel."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
        if size >= _UNKNOWN_SIZE_SENTINEL:
            return None
        return size // _schema_bytes_per_row(df.schema)
    except Exception:
        return None


def _warn_global_window(df: DataFrame, op: str, warn_above: int | None) -> None:
    """Warn when a no-partition_cols (single-task global window) call is
    estimated above ``warn_above`` rows. Plan-stats only — no Spark job,
    never re-executes upstream lineage (safe on expensive inputs)."""
    if warn_above is None:
        return
    est_rows = _estimated_rows(df)
    if est_rows is not None and est_rows > warn_above:
        import warnings

        warnings.warn(
            f"{op} without partition_cols runs an estimated {est_rows:,} rows "
            f"(> {warn_above:,}) through a single global window task; pass "
            f"partition_cols (e.g. date/source) so each partition packs "
            f"independently.",
            stacklevel=3,
        )


def pack_shards(
    df: DataFrame,
    size_col: str,
    budget: int,
    order_col: str,
    partition_cols: list[str] | None = None,
    out_col: str = "shard_id",
    warn_above: int = 10_000_000,
) -> DataFrame:
    """Assign each row a training-shard id such that consecutive rows (in
    ``order_col`` order, within ``partition_cols``) accumulate to ~``budget``
    units per shard (greedy first-fit in a fixed order — deterministic,
    unlike bin-packing heuristics that depend on arrival order).

    shard = floor((cumsum_inclusive - size) / budget): a row starts a new
    shard exactly when the PRECEDING rows already filled the current one.
    One window (= one shuffle on the partition key) with
    ``partition_cols``; a GLOBAL pack (no ``partition_cols``) uses the
    fully parallel two-pass distributed prefix sum
    (``functions.partitioning.distributed_cumsum`` — range shuffle +
    numPartitions-row offset broadcast, no single-task stage), so global
    packing is corpus-safe. ``order_col`` must be unique for a
    deterministic pack — the same contract a running-sum window has.
    ``warn_above`` is retained for API compatibility and unused since
    the distributed-cumsum rewrite. Partitioned shard ids join the
    partition values and shard index with ``PACK_SEP`` = chr(31)
    (injective — printable separators can alias distinct groups)."""
    size = F.col(size_col).cast("long")
    if partition_cols:
        parts = [F.col(c) for c in partition_cols]
        w = (
            Window.partitionBy(*parts).orderBy(F.col(order_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        shard = F.floor((F.sum(size).over(w) - size) / F.lit(budget))
        out = F.concat_ws(
            PACK_SEP, *[c.cast("string") for c in parts], shard.cast("string")
        )
        return df.withColumn(out_col, out)
    from sycamore_spark.functions.partitioning import distributed_cumsum

    cummed = distributed_cumsum(
        df, [F.col(order_col).asc()], size_col, out_col="_ps_cum"
    )
    shard = F.floor((F.col("_ps_cum") - size) / F.lit(budget))
    return cummed.withColumn(out_col, shard.cast("string")).drop("_ps_cum")


def rho_select(
    df: DataFrame,
    reference_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_fraction: float = 0.5,
) -> DataFrame:
    """RHO-loss-style data selection (Mindermann et al. 2022, "Prioritized
    Training on Points that are Learnable, Worth Learning, and Not Yet
    Learnt"): score every document by its REDUCIBLE loss — loss under the
    current/proxy model minus loss under a model trained on a trusted
    holdout — and keep the top ``keep_fraction``. High excess = hard for
    the corpus-trained model but easy for the reference = learnable and
    worth learning; low/negative excess = noise (hard for both) or
    already-learnt (easy for both). The paper's model seam is filled with
    the repo's deterministic proxy: the self-trained bigram LM
    (``textstats.ngram_lm_score``) as the current model and the same LM
    fit on ``reference_df`` as the holdout model, so
    ``excess = (logp_ref - logp_train) / n_bigrams`` in integer-micro
    log-probs (cross-engine exact; the division of two bigints is the
    same IEEE double everywhere).

    Scale shape: two LM scorings (two hash-agg count models + one scoring
    join each), one id-keyed join, and ONE exact-percentile threshold
    broadcast back as the recognized scalar-subquery shape — everything
    corpus-linear, nothing collects. Returns the kept rows:
    (id, n_bigrams, rho_excess)."""
    from sycamore_spark.operators.textstats import ngram_lm_score

    s_train = ngram_lm_score(df, id_col, text_col).select(
        F.col(id_col), F.col("n_bigrams"), F.col("logprob_micros").alias("_lp_t")
    )
    s_ref = ngram_lm_score(df, id_col, text_col, train_df=reference_df).select(
        F.col(id_col), F.col("logprob_micros").alias("_lp_r")
    )
    excess = (
        (F.col("_lp_r") - F.col("_lp_t")).cast("double")
        / F.lit(1_000_000.0)
        / F.col("n_bigrams")
    )
    scored = s_train.join(s_ref, id_col).withColumn("rho_excess", excess)
    thr = scored.agg(
        F.percentile(F.col("rho_excess"), F.lit(1.0 - keep_fraction)).alias("_thr")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("rho_excess") >= F.col("_thr"))
        .select(F.col(id_col), "n_bigrams", "rho_excess")
    )


def doremi_weights(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    reference_df: DataFrame | None = None,
    rounds: int = 6,
    eta: float = 1.0,
    smoothing: float = 0.01,
) -> DataFrame:
    """DoReMi domain reweighting (Xie et al. 2023, "DoReMi: Optimizing
    Data Mixtures Speeds Up Language Model Pretraining"): Group-DRO
    multiplicative-weights updates over per-domain EXCESS loss — proxy
    loss minus reference loss, clipped at zero — then output the average
    of the weight trajectory as the training mixture. The paper's two
    neural models are filled by the repo's deterministic LM seam: proxy =
    the corpus-self-trained bigram LM, reference = the same LM fit on
    ``reference_df`` (default: the deterministic 20% hash sample — the
    paper's uniformly-trained reference). Excess loss per doc is
    ``max(0, logp_ref - logp_proxy)`` in integer micros (loss = -logp, so
    this IS the clipped reducible loss), clipped at DOCUMENT granularity —
    per-token clipping needs per-token losses the doc-total seam doesn't
    expose.

    Minibatch dynamics: each doc is hash-assigned to one of ``rounds``
    batches (content-addressed, partitioning-independent); round ``t``
    updates on batch ``t``'s per-domain excess rate
    ``sum(clip) / 1e6 / sum(n_bigrams)``. Update per Alg. 1:
    ``u = alpha * exp(eta * lam)``, normalize, then mix
    ``(1 - smoothing) * u + smoothing * uniform``; the state is quantized
    to weight MICROS after every round so the fold replays bit-for-bit as
    a DuckDB recursive CTE (drift cannot accumulate past the
    quantization).

    Scale shape: the corpus work is ONE pass — two LM scorings + an
    id-keyed join + one (rounds x domains) hash aggregate. Only that
    metadata-scale table is collected (bounded by construction, the
    unimax_plan contract); the fold itself is O(rounds * domains) driver
    arithmetic. Returns (domain_col, avg_weight_micros,
    last_weight_micros), one row per domain with scored docs."""
    import math

    from sycamore_spark.operators.textstats import ngram_lm_score

    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if reference_df is None:
        reference_df = hash_sample(df, id_col, 0.2)
    s_t = ngram_lm_score(df, id_col, text_col).select(
        F.col(id_col), F.col("n_bigrams"), F.col("logprob_micros").alias("_lp_t")
    )
    s_r = ngram_lm_score(df, id_col, text_col, train_df=reference_df).select(
        F.col(id_col), F.col("logprob_micros").alias("_lp_r")
    )
    dom = df.select(F.col(id_col), F.col(domain_col).alias("_dom")).where(
        F.col(domain_col).isNotNull()
    )
    ex = (
        s_t.join(s_r, id_col)
        .join(dom, id_col)
        .select(
            "_dom",
            F.pmod(_hash_bucket(F.col(id_col)), F.lit(rounds)).alias("_t"),
            F.greatest(F.col("_lp_r") - F.col("_lp_t"), F.lit(0)).alias("_clip"),
            "n_bigrams",
        )
    )
    # rounds x domains rows — metadata-scale by construction
    agg = ex.groupBy("_t", "_dom").agg(
        F.sum("_clip").alias("_sc"), F.sum("n_bigrams").alias("_sn")
    ).collect()

    spark = df.sparkSession
    schema = f"{domain_col} string, avg_weight_micros long, last_weight_micros long"
    lam = {(r["_t"], r["_dom"]): (r["_sc"] / 1_000_000.0) / r["_sn"] for r in agg}
    domains = sorted({r["_dom"] for r in agg})
    n_dom = len(domains)
    if n_dom == 0:
        return spark.createDataFrame([], schema)

    # every float op below is mirrored verbatim by the oracle's recursive
    # CTE (same IEEE op order; exp is libm on both engines)
    alpha = [int(math.floor(1_000_000.0 / n_dom + 0.5))] * n_dom
    hist: list[list[int]] = []
    for t in range(rounds):
        lams = [lam.get((t, d), 0.0) for d in domains]
        u = [(alpha[i] / 1_000_000.0) * math.exp(eta * lams[i]) for i in range(n_dom)]
        s = 0.0
        for x in u:
            s = s + x
        alpha = [
            int(math.floor(
                ((1.0 - smoothing) * (u[i] / s) + smoothing * (1.0 / n_dom))
                * 1_000_000.0 + 0.5
            ))
            for i in range(n_dom)
        ]
        hist.append(alpha)
    rows = [
        (
            d,
            int(math.floor(sum(h[i] for h in hist) / rounds + 0.5)),
            hist[-1][i],
        )
        for i, d in enumerate(domains)
    ]
    return spark.createDataFrame(rows, schema)


def anneal_schedule(
    plan_a: DataFrame,
    plan_b: DataFrame,
    group_col: str,
    weight_col: str,
    steps: int,
    anneal_start: int,
) -> DataFrame:
    """Two-phase data-mixture annealing schedule — the Llama 3 (§3.4.3,
    "annealing data") / OLMo 2 "midtraining" pattern: hold the base
    mixture ``plan_a`` for the first ``anneal_start`` steps, then
    linearly interpolate toward the high-quality end mixture ``plan_b``,
    reaching it exactly at the final step. Per (step t, group):

        t <  anneal_start: w = w_a
        t >= anneal_start: w = w_a + (w_b - w_a) * (t - anneal_start + 1)
                                                   / (steps - anneal_start)

    Groups present in only one plan get weight 0 on the other side (a
    domain can be phased in or out entirely). If both plans are
    normalized, every step's weights sum to ~1 (lerp preserves the sum;
    output quantized to micros per cell). Returns
    (step, group_col, weight_micros) — ``steps x groups`` rows,
    metadata-scale end to end: one full-outer join of two plan frames +
    one bounded explode, nothing touches a corpus."""
    if not 0 <= anneal_start < steps:
        raise ValueError(
            f"need 0 <= anneal_start < steps, got {anneal_start}, {steps}"
        )
    a = plan_a.select(
        F.col(group_col).alias("_g"), F.col(weight_col).cast("double").alias("_wa")
    )
    b = plan_b.select(
        F.col(group_col).alias("_g2"), F.col(weight_col).cast("double").alias("_wb")
    )
    j = a.join(b, a["_g"] == b["_g2"], "full_outer").select(
        F.coalesce(F.col("_g"), F.col("_g2")).alias(group_col),
        F.coalesce(F.col("_wa"), F.lit(0.0)).alias("_wa"),
        F.coalesce(F.col("_wb"), F.lit(0.0)).alias("_wb"),
    )
    st = j.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(steps - 1))).alias("step")
    )
    frac = F.when(F.col("step") < F.lit(anneal_start), F.lit(0.0)).otherwise(
        (F.col("step") - F.lit(anneal_start) + F.lit(1)).cast("double")
        / F.lit(float(steps - anneal_start))
    )
    w = F.col("_wa") + (F.col("_wb") - F.col("_wa")) * frac
    return st.select(
        "step",
        group_col,
        F.floor(w * F.lit(1e6) + F.lit(0.5)).cast("long").alias("weight_micros"),
    )


def unimax_plan(
    df: DataFrame,
    group_col: str,
    size_col: str,
    budget: int,
    max_epochs: float = 1.0,
) -> DataFrame:
    """UniMax sampling allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining", Algorithm 1): distribute a total token ``budget`` across
    groups (languages) as UNIFORMLY as possible subject to a per-group cap
    of ``max_epochs`` passes over its data — small languages get their
    full cap, the leftover spreads evenly over larger ones (the fairer
    alternative to temperature sampling, cf. ``temperature_mixture``).

    Exact integer fold: groups ascend by (cap, group); each takes
    ``min(cap_i, remaining_budget // remaining_groups)`` with
    ``cap_i = n_units_i * round(max_epochs * 1e6) // 1e6`` — every step
    is bigint, so a DuckDB oracle replays it bit-for-bit. Returns one row
    per group: (group, n_units, cap, quota, epochs_micros) where
    ``epochs_micros = quota * 1e6 // n_units`` is the per-group sampling
    rate (feed it to ``stratified_hash_sample`` scaled down by 1e6 to
    materialize the mixture).

    Scale shape: ONE map-side-combined corpus aggregate (one row per
    group); the sequential allocation is inherently ordered but runs over
    the GROUP list (metadata-scale by construction — #languages, not
    corpus rows), driver-side, like ``mixture_plan``'s weight table.
    NULL groups are excluded (no language id -> not in the mixture)."""
    epochs_micros = int(round(max_epochs * _MOD))
    sizes = (
        df.where(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).cast("string").alias("group"))
        .agg(F.sum(F.col(size_col).cast("long")).alias("n_units"))
        .collect()
    )
    # caps in Python bigints (exact at any corpus size; a double detour
    # would round above 2^53 tokens), ascending (cap, group) — the strict
    # order the fold's determinism contract needs
    rows = sorted(
        ((str(r["group"]), int(r["n_units"])) for r in sizes),
        key=lambda t: (t[1] * epochs_micros // _MOD, t[0]),
    )
    out = []
    rem = int(budget)
    n_left = len(rows)
    for group, n_units in rows:
        cap = n_units * epochs_micros // _MOD
        share = rem // n_left
        quota = min(cap, share)
        rem -= quota
        n_left -= 1
        out.append(
            (group, n_units, cap, quota, (quota * _MOD) // n_units if n_units else 0)
        )
    return df.sparkSession.createDataFrame(
        out, "group string, n_units long, cap long, quota long, epochs_micros long"
    )


def cap_per_group(
    df: DataFrame, group_col: str, key: str, n: int, keep_rank: bool = False
) -> DataFrame:
    """Keep at most ``n`` rows per group (the per-domain cap every
    crawl-derived corpus applies so no single site dominates training).
    Selection is content-addressed — rows are ranked inside each group by
    the md5 of their key, so the SAME rows survive on every run and any
    cluster size, and re-running after appending new rows evicts
    deterministically instead of reshuffling the whole sample. One window
    (= one shuffle on the group key); heavy-hitter groups cost one
    partition's sort each — at crawl scale pre-filter obvious spam domains
    first so no single group exceeds a partition."""
    w = Window.partitionBy(F.col(group_col)).orderBy(
        F.md5(F.col(key).cast("string")).asc(), F.col(key).asc()
    )
    out = df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= n)
    return out if keep_rank else out.drop("_rk")


def corpus_shuffle(
    df: DataFrame, key: str, n_shards: int,
    shard_col: str = "shard", pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle for training-order randomization:
    every row gets a pseudo-random (shard, position) derived purely from
    its key's md5 — shard by hash bucket (narrow, no data movement),
    position by rank of the hash within the shard (one shuffle on the
    shard id, each shard sorts independently). Reading shards in id order
    yields the same permutation on any cluster size — unlike
    ``df.orderBy(rand())``, which is neither reproducible nor restartable.
    At 100 TB each shard is one writer task's output file, so the shuffle
    is the job's single required exchange.

    ``key`` must be UNIQUE per row: rows sharing a key share an md5 and
    the within-shard ordering between them is then arbitrary (dedupe or
    add a disambiguating suffix first)."""
    h = F.md5(F.col(key).cast("string"))
    shard = F.pmod(F.conv(F.substring(h, 1, 15), 16, 10).cast("long"), F.lit(n_shards))
    w = Window.partitionBy(shard).orderBy(h.asc(), F.col(key).asc())
    return (
        df.withColumn(shard_col, shard)
        .withColumn(pos_col, F.row_number().over(w).cast("bigint"))
    )


def concat_shards(
    df: DataFrame,
    text_col: str,
    shard_col: str = "shard_id",
    order_col: str = "doc_id",
    separator: str = "\n\n",
    out_col: str = "shard_text",
) -> DataFrame:
    """Assemble packed shards into one training example per shard: documents
    concatenated in ``order_col`` order with ``separator`` (the EOS/document
    boundary marker). One groupBy on the shard id — pairs with
    ``pack_shards`` so shard sizes are already ~budget tokens and no group
    blows up an executor. Returns (shard_col, n_docs, out_col)."""
    return (
        df.groupBy(shard_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(order_col), F.col(text_col)))
                    ),
                    lambda s: s[text_col],
                ),
                separator,
            ).alias(out_col),
        )
    )


def sequence_pack(
    df: DataFrame,
    size_col: str,
    seq_len: int,
    order_col: str,
    partition_cols: list[str] | None = None,
    seq_col: str = "seq_id",
    warn_above: int | None = 10_000_000,
) -> DataFrame:
    """Token-level sequence packing — the GPT-pretraining layout
    ``pack_shards`` deliberately is not: documents are concatenated in
    ``order_col`` order into ONE token stream (within ``partition_cols``)
    and cut every ``seq_len`` tokens, so a document SPLITS across the
    sequence boundary and every sequence is exactly full (no padding
    waste except the stream tail). Returns one row per (sequence,
    document-slice): ``seq_col``, the original columns, and

    - ``tok_start``/``tok_end`` — the [start, end) token span of the doc
      consumed by this sequence (slice the doc's tokens with these), and
    - ``seq_off`` — where the slice lands inside the sequence.

    Zero-token docs contribute nothing and are dropped (the canonical
    packing contract). Shape: ONE cumulative-offset pass — a window per
    partition key with ``partition_cols``, else the fully parallel
    two-pass distributed prefix sum (no single-task stage on global
    calls; ``order_col`` must be unique, the same contract a running-sum
    window has; ``warn_above`` retained for API compatibility, unused
    since the distributed-cumsum rewrite; partitioned ``seq_id`` joins
    partition values and the sequence index with ``PACK_SEP`` = chr(31)) —
    + a per-row explode bounded by each doc's own boundary-crossing
    count, so output rows ~ n_docs + total_tokens/seq_len — linear, no
    corpus-sized join."""
    parts = [F.col(c) for c in (partition_cols or [])]
    size = F.col(size_col).cast("long")
    if partition_cols:
        w = (
            Window.partitionBy(*parts).orderBy(F.col(order_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        df2 = (
            df.filter(size > 0)
            .withColumn("_ce", F.sum(size).over(w))
            .withColumn("_cs", F.col("_ce") - size)
        )
    else:
        from sycamore_spark.functions.partitioning import distributed_cumsum

        df2 = distributed_cumsum(
            df.filter(size > 0), [F.col(order_col).asc()], size_col, out_col="_ce"
        ).withColumn("_cs", F.col("_ce") - size)
    first_seq = F.floor(F.col("_cs") / F.lit(seq_len))
    last_seq = F.floor((F.col("_ce") - 1) / F.lit(seq_len))
    out = df2.withColumn("_s", F.explode(F.sequence(first_seq, last_seq)))
    g_start = F.greatest(F.col("_cs"), F.col("_s") * seq_len)
    g_end = F.least(F.col("_ce"), (F.col("_s") + 1) * seq_len)
    if parts:
        seq_id = F.concat_ws(
            PACK_SEP, *[c.cast("string") for c in parts], F.col("_s").cast("string")
        )
    else:
        seq_id = F.col("_s").cast("string")
    return (
        out.withColumn(seq_col, seq_id)
        .withColumn("tok_start", (g_start - F.col("_cs")).cast("long"))
        .withColumn("tok_end", (g_end - F.col("_cs")).cast("long"))
        .withColumn("seq_off", (g_start - F.col("_s") * seq_len).cast("long"))
        .drop("_cs", "_ce", "_s")
    )


def bin_pack(
    df: DataFrame,
    size_col: str,
    budget: int,
    id_col: str,
    partition_cols: list[str] | None = None,
    chunk_size: int = 512,
    bin_col: str = "bin_id",
    warn_above: int | None = 10_000_000,
) -> DataFrame:
    """Document-preserving bin packing — the SFT-packing counterpart of
    ``sequence_pack``: documents are NEVER split across a boundary;
    instead whole documents are packed into bins of at most ``budget``
    tokens by first-fit-decreasing (sort by size desc, place each doc in
    the lowest-indexed bin it fits, else open a new bin — the classic
    11/9·OPT+6/9 guarantee), so each bin concatenates complete examples
    and only the residual is padding. A document larger than ``budget``
    gets a bin of its own (its fill exceeds the budget; filter or
    truncate upstream if that's not wanted).

    Deterministic and cross-engine replayable: the global order is
    (size desc, ``id_col`` asc); FFD runs within consecutive
    ``chunk_size``-document chunks of that order (chunked FFD — the
    standard scalable relaxation; chunk boundaries only cost packing
    quality, never correctness, and ``chunk_size`` >= corpus size is
    exact FFD). Returns the input plus ``bin_col`` (globally unique
    string — partition values, chunk, and bin index joined with
    ``PACK_SEP`` = chr(31), so partition values containing printable
    separators cannot alias two physical bins), ``bin_fill`` (total
    packed tokens of the bin) and ``bin_count`` (documents in the bin).
    ``warn_above`` is retained for API compatibility and unused since
    the distributed-rank rewrite (same note on ``pack_shards`` /
    ``sequence_pack``).

    Shape: ONE rank pass in (size desc, id) order — per-partition windows
    when ``partition_cols`` is given, else a fully parallel two-pass
    distributed rank (range shuffle + numPartitions-row offset broadcast,
    ``functions.partitioning.distributed_rank`` — NO single-task global
    window even on a global call) + one grouped Arrow stage that runs the
    O(chunk·bins) fold per chunk and emits the bin stats in the same pass
    — no second window, no join.
    """
    import pandas as pd

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    clash = {bin_col, "bin_fill", "bin_count", "_chunk"} & set(df.columns)
    if clash:
        raise ValueError(
            f"bin_pack: input already has column(s) {sorted(clash)}, which "
            "collide with the columns this op appends; rename or drop them"
        )
    parts = [F.col(c) for c in (partition_cols or [])]
    order = [F.col(size_col).cast("long").desc(), F.col(id_col).asc()]
    if partition_cols:
        w = Window.partitionBy(*parts).orderBy(*order)
        tagged = df.withColumn(
            "_chunk",
            ((F.row_number().over(w) - 1) / F.lit(int(chunk_size))).cast("long"),
        )
    else:
        from sycamore_spark.functions.partitioning import distributed_rank

        tagged = distributed_rank(df, order, rank_col="_dr_rank").withColumn(
            "_chunk", ((F.col("_dr_rank") - 1) / F.lit(int(chunk_size))).cast("long")
        ).drop("_dr_rank")
    out_schema = StructType(
        list(tagged.schema.fields)
        + [
            StructField(bin_col, StringType()),
            StructField("bin_fill", LongType()),
            StructField("bin_count", LongType()),
        ]
    )
    budget_l = int(budget)
    prefix_cols = list(partition_cols or [])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [size_col, id_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        sizes = pdf[size_col].astype("int64").to_list()
        fills: list[int] = []
        assign: list[int] = []
        for sz in sizes:
            pos = next(
                (k for k, f in enumerate(fills) if f + sz <= budget_l), None
            )
            if pos is None:
                fills.append(sz)
                assign.append(len(fills))
            else:
                fills[pos] += sz
                assign.append(pos + 1)
        counts = [0] * len(fills)
        for b in assign:
            counts[b - 1] += 1
        prefix = PACK_SEP.join(
            [str(pdf[c].iloc[0]) for c in prefix_cols]
            + [str(int(pdf["_chunk"].iloc[0]))]
        )
        pdf[bin_col] = [f"{prefix}{PACK_SEP}{b}" for b in assign]
        pdf["bin_fill"] = pd.Series(
            [fills[b - 1] for b in assign], dtype="int64"
        )
        pdf["bin_count"] = pd.Series(
            [counts[b - 1] for b in assign], dtype="int64"
        )
        return pdf

    packed = tagged.groupBy(*parts, F.col("_chunk")).applyInPandas(
        pack, out_schema
    )
    return packed.drop("_chunk")


def top_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    n: int,
    descending: bool = True,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Keep the best ``n`` rows per group by an explicit score (quality
    selection: 'best 1000 docs per domain'), vs cap_per_group's
    content-addressed uniform cap. Deterministic: ties break by
    ``tiebreak_col`` (default the order column itself, then group order).
    One window shuffle on the group key."""
    ordering = [F.col(order_col).desc() if descending else F.col(order_col).asc()]
    if tiebreak_col:
        ordering.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(F.col(group_col)).orderBy(*ordering)
    return df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= n).drop("_rk")


def temperature_mixture(df: DataFrame, stratum: str, alpha: float = 0.5) -> DataFrame:
    """Temperature (alpha) sampling plan — the multilingual-LM practice
    (mBERT / XLM-R exponent-smoothed sampling): the target share of each
    stratum is its natural share raised to ``alpha`` and renormalized,
    ``q_i ∝ p_i^alpha``, so low-resource strata are up-weighted relative
    to their raw frequency (alpha=1 keeps the natural mixture, alpha=0
    is uniform). The plan keeps as much data as possible under that
    mixture: the stratum scarcest relative to its target binds the total
    (``binding = min_i n_i / q_i``) and every stratum keeps
    ``binding * q_i / n_i`` (<= 1 by construction). Feed the fractions
    into ``stratified_hash_sample`` to apply.

    The normalization CANCELS in the keep fraction — with q_i ∝ n_i^alpha,
    ``binding = min_i n_i/q_i ∝ n_min^(1-alpha)`` and
    ``keep_j = binding * q_j / n_j = (n_min / n_j)^(1-alpha)`` — so the
    plan needs only the per-stratum counts and their integer minimum: one
    hash-agg + a min window over the tiny count table, no float
    summations, and the result replays bit-exactly in any IEEE engine
    (one division + one pow per stratum; for alpha=0.5 that's a single
    correctly-rounded sqrt). ``target_share`` is still emitted for
    reporting (it does carry a float sum; hash integer columns, not it).

    Returns per stratum: cnt, share_micros (exact integer division),
    target_share, keep_fraction, keep_micros, expected_rows."""
    from pyspark.sql.window import Window

    counts = df.groupBy(F.col(stratum).alias("stratum")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("stratum").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n = F.col("cnt").cast("double")
    nmin = F.min("cnt").over(w).cast("double")
    total = F.sum("cnt").over(w)
    wgt = F.pow(n, F.lit(float(alpha)))
    q = wgt / F.sum(wgt).over(w)
    keep = F.pow(nmin / n, F.lit(1.0 - float(alpha)))
    return counts.select(
        "stratum",
        "cnt",
        # exact BIGINT arithmetic: micros of the natural share
        (F.col("cnt") * F.lit(1_000_000)).cast("long").alias("_sm") ,
        total.alias("_tot"),
        q.alias("target_share"),
        keep.alias("keep_fraction"),
        F.floor(keep * F.lit(1_000_000.0) + F.lit(0.5)).cast("bigint").alias("keep_micros"),
        F.floor(keep * n + F.lit(0.5)).cast("bigint").alias("expected_rows"),
    ).select(
        "stratum", "cnt",
        F.expr("_sm div _tot").alias("share_micros"),  # exact: Spark div == DuckDB //
        "target_share", "keep_fraction", "keep_micros", "expected_rows",
    ).orderBy("stratum")


def curriculum_order(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    n_buckets: int = 10,
    out_col: str = "curriculum_rank",
) -> DataFrame:
    """Curriculum training order: rank the corpus easiest-to-hardest by
    ``score_col`` into ``n_buckets`` difficulty tiers, then interleave —
    global position p takes the p-th easiest item of tier (p mod
    n_buckets) — so every training window sees the full difficulty
    spectrum while overall difficulty still ramps (the anti-pattern is
    sorting outright: early batches then have zero hard examples and the
    loss curve cliffs at each tier boundary).

    Deterministic: all ordering is by (score, id), a total order. Shape
    (no global window anywhere — an unpartitioned ntile/row_number would
    funnel the whole corpus through ONE WindowExec task): the global rank
    is computed as range-partitioned per-partition row_numbers plus
    partition offsets (the offsets come from a window over the tiny
    per-partition count table, <= numPartitions rows, broadcast back);
    the ntile tier, in-tier position, and final interleave rank are then
    pure arithmetic on that rank — bucket sizes are closed-form
    (first N%n tiers get ceil(N/n) rows, the rest floor(N/n)), and so is
    the (pos, tier)-major interleave. Total cost: one range shuffle (what
    a plain ORDER BY costs) + one hash shuffle on the partition id.
    Consume ``out_col`` with ``repartitionByRange(out_col)`` to write
    shards in curriculum order.
    """
    from pyspark.sql.window import Window

    order = [F.col(score_col).asc(), F.col(id_col).asc()]
    parts = df.repartitionByRange(*order).withColumn("_pid", F.spark_partition_id())
    cnts = parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pn"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cnts = cnts.select(
        "_pid",
        F.coalesce(F.sum("_pn").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_pn").over(w_all).alias("_N"),
    )
    tagged = parts.join(F.broadcast(cnts), "_pid")
    rn = F.row_number().over(Window.partitionBy("_pid").orderBy(*order))
    gr0 = (F.col("_off") + rn - F.lit(1)).cast("long")  # 0-based global rank
    n = F.lit(n_buckets).cast("long")
    total = F.col("_N").cast("long")
    small = F.floor(total / n)               # min tier size
    r0 = total % n                           # tiers sized small+1
    big = small + F.when(r0 > 0, F.lit(1)).otherwise(F.lit(0))
    tier = F.when(gr0 < r0 * big, F.floor(gr0 / big)).otherwise(
        r0 + F.floor((gr0 - r0 * big) / F.greatest(small, F.lit(1)))
    )
    pos = gr0 - (tier * small + F.least(tier, r0))
    rank = F.lit(1) + F.when(pos < small, pos * n + tier).otherwise(
        small * n + (pos - small) * r0 + tier
    )
    return tagged.withColumn(out_col, rank.cast("int")).drop("_pid", "_off", "_N")


def _hashed_ngram_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    use_bigrams: bool = True,
) -> DataFrame:
    """Explode each document into hashed n-gram feature buckets — the DSIR
    feature space (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling"): word unigrams (+ bigrams) hashed into
    ``n_buckets`` cells. Returns (``_id``, ``bucket``) with one row per
    n-gram OCCURRENCE (counts preserved, as the paper's bag-of-hashed-
    ngrams requires).

    md5-prefix hashing (not xxhash64) so the oracle replays exactly:
    DuckDB ``('0x' || substr(md5(f), 1, 15))::BIGINT % n_buckets``.
    Zero-shuffle narrow explode; codegen end-to-end.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("_ws"),
    )
    uni = F.col("_ws")
    feats = uni
    if use_bigrams:
        bi = F.when(
            F.size("_ws") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("_ws") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(F.col("_ws"), i), F.element_at(F.col("_ws"), i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        feats = F.concat(uni, bi)
    ex = toks.select("_id", F.explode(feats).alias("_f")).filter(F.col("_f") != "")
    h60 = F.conv(F.substring(F.md5(F.col("_f")), 1, 15), 16, 10).cast("long")
    return ex.select("_id", F.pmod(h60, F.lit(n_buckets)).alias("bucket"))


def dsir_importance(
    raw_df: DataFrame,
    target_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    use_bigrams: bool = True,
) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023): score every raw
    document by how target-like its hashed n-gram distribution is,

        w(d) = sum over n-gram occurrences g in d of
               ln( p_target(bucket(g)) / p_raw(bucket(g)) )

    with add-1 smoothed bucket probabilities ``p(b) = (c_b + 1) / (N + B)``.
    Documents resembling the target domain score high; off-domain docs
    score low. Selecting the top-k by weight (or hash-resampling with the
    weight as keep-probability) is the paper's data-selection step.

    Cross-engine bit-replay: the per-bucket log-ratio is ONE ``ln`` of an
    exactly-representable rational, quantized to integer micros; the
    per-doc weight is then a pure bigint dot product ``sum(count_b *
    lr_micros_b)`` — associative, partitioning-independent, and replayable
    in DuckDB (the lm_score pattern).

    Returns (id, n_features, weight_micros, avg_weight) for raw documents
    with at least one feature.

    100 TB shape: ONE explode + ONE (id, bucket) hash agg over the raw
    corpus (the only corpus-scale shuffle); the target corpus is the
    small domain exemplar set; the ratio table is at most ``n_buckets``
    rows — broadcast to the doc-side join. No collect, no window; the
    model IS a B-row DataFrame.

    Reference scope note: the reference has no data-selection operator;
    this follows the public DSIR paper directly (beyond-reference scale
    suite, like dedup/minhash).
    """
    raw_f = _hashed_ngram_features(raw_df, id_col, text_col, n_buckets, use_bigrams)
    tgt_f = _hashed_ngram_features(target_df, id_col, text_col, n_buckets, use_bigrams)

    # Two corpus passes, the paper's own shape (fit distributions, then
    # score). Pass 1 is a plain bucket histogram: map-side combine folds
    # every task to <= n_buckets rows, so its shuffle is trivial at any
    # corpus size. Pass 2 is the one corpus-scale shuffle — the (id,
    # bucket) agg feeding the broadcast ratio join. The totals derive
    # from the B-row histograms (their exchanges are reused, never a
    # third corpus pass).
    doc_counts = raw_f.groupBy("_id", "bucket").agg(F.count(F.lit(1)).alias("_c"))
    tb = tgt_f.groupBy("bucket").agg(F.count(F.lit(1)).alias("_ct"))
    rb = raw_f.groupBy("bucket").agg(F.count(F.lit(1)).alias("_cr"))
    nt = tb.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_nt"))
    nr = rb.agg(F.coalesce(F.sum("_cr"), F.lit(0)).alias("_nr"))

    b = F.lit(float(n_buckets))
    # ln of one exactly-representable rational: (ct+1)(Nr+B) / (cr+1)(Nt+B).
    # Integer products stay exact in doubles far beyond oracle scale
    # (<2^53); a single ln call matches across JVM/libm, and quantizing to
    # micros before the sum removes all float-order sensitivity.
    lr = F.log(
        ((F.col("_ct") + F.lit(1.0)) * (F.col("_nr").cast("double") + b))
        / ((F.col("_cr") + F.lit(1.0)) * (F.col("_nt").cast("double") + b))
    )
    ratio = (
        rb.join(tb, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce(F.col("_ct"), F.lit(0)).alias("_ct"),
            F.coalesce(F.col("_cr"), F.lit(0)).alias("_cr"),
        )
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "bucket",
            F.floor(lr * F.lit(1_000_000.0) + F.lit(0.5)).cast("long").alias("_lr_micros"),
        )
    )
    return (
        doc_counts.join(F.broadcast(ratio), "bucket")
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.sum("_c").alias("n_features"),
            F.sum(F.col("_c") * F.col("_lr_micros")).alias("weight_micros"),
        )
        .withColumn(
            "avg_weight",
            F.col("weight_micros").cast("double")
            / F.lit(1_000_000.0)
            / F.col("n_features"),
        )
    )


def dsir_select(
    raw_df: DataFrame,
    target_df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Deterministic DSIR selection: the top-``k`` raw documents by
    importance weight (ties broken by id — stable on every run and any
    partitioning). The paper's Gumbel-top-k adds sampling noise for
    diversity; the deterministic variant is the reproducible form a
    curation pipeline can re-run bit-identically. Returns the SELECTED
    DOCUMENTS (every raw column) plus (n_features, weight_micros,
    avg_weight), so the result feeds straight into downstream text
    stages. TakeOrderedAndProject for the top-k, then one k-row
    broadcast join back onto the corpus.

    Raises ValueError if the raw corpus already carries a column named
    n_features / weight_micros / avg_weight — the join-back would
    otherwise produce ambiguous duplicate columns that fail only on the
    first downstream select."""
    clash = {"n_features", "weight_micros", "avg_weight"} & set(raw_df.columns)
    if clash:
        raise ValueError(
            f"dsir_select: raw_df already has column(s) {sorted(clash)}, which "
            "collide with the weight columns this op appends; rename or drop "
            "them first"
        )
    w = dsir_importance(raw_df, target_df, id_col, text_col, n_buckets)
    top = w.orderBy(F.col("weight_micros").desc(), F.col(id_col).asc()).limit(k)
    return raw_df.join(F.broadcast(top), id_col)
