"""Distributed Naive-Bayes text classification — the fastText-style
lang-id / quality-classifier role in a pretraining pipeline, self-trained
with no external model.

The model IS a pair of DataFrames (per-(label, token) log-probabilities +
per-label priors), fit with two hash aggregates over the labeled corpus;
scoring is a broadcast of the label list, one join of document tokens
against the model table, and one per-doc aggregate + window argmax.
Nothing collects to the driver; training and scoring both scale as plain
shuffles.

Cross-engine determinism (the bm25 / ngram_lm_score pattern): every
log-probability quantizes to integer micros (``floor(ln(x) * 1e6 + 0.5)``)
BEFORE any summation, so per-doc scores are exact bigint sums —
partitioning-independent, and bit-replayable in ANSI SQL on any engine
whose ``ln`` is near-correctly rounded (Spark Math.log vs DuckDB libm:
zero 6dp-quantized mismatches measured over 20k inputs).

Add-1 smoothing: logp(token | label) = ln((c_lt + 1) / (c_l + V)) with V
the global vocabulary size; unseen (token, label) pairs take the label's
default ln(1 / (c_l + V)). Priors: ln(n_docs_label / n_docs). Prediction:
argmax over labels of prior + sum(tf * logp), ties broken by label order
(deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sycamore_spark.functions import text as T


def _micros(col: Column) -> Column:
    return F.floor(col * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(T.tokens(F.col(text_col))).alias("_tok"),
    ).filter(F.length("_tok") > 0)


def nb_train(
    df: DataFrame, label_col: str, text_col: str, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Fit the model: returns (token_model, label_model).

    token_model: (label, token, logp_micros) for observed pairs.
    label_model: (label, prior_micros, default_micros) — the prior and the
    unseen-token log-prob for that label.
    """
    toks = df.select(
        F.col(label_col).alias("_lbl"),
        F.explode(T.tokens(F.col(text_col))).alias("_tok"),
    ).filter(F.length("_tok") > 0)
    pair_counts = toks.groupBy("_lbl", "_tok").agg(F.count(F.lit(1)).alias("_clt"))
    label_tokens = toks.groupBy("_lbl").agg(F.count(F.lit(1)).alias("_cl"))
    vocab = toks.agg(F.countDistinct("_tok").alias("_v"))

    denom = (F.col("_cl") + F.col("_v")).cast("double")
    token_model = (
        pair_counts.join(F.broadcast(label_tokens), "_lbl")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("_lbl").alias("label"),
            F.col("_tok").alias("token"),
            _micros(F.log((F.col("_clt") + F.lit(1.0)) / denom)).alias("logp_micros"),
        )
    )
    doc_counts = df.groupBy(F.col(label_col).alias("_lbl")).agg(
        F.count(F.lit(1)).alias("_nd")
    )
    total = df.agg(F.count(F.lit(1)).alias("_n"))
    label_model = (
        label_tokens.join(F.broadcast(doc_counts), "_lbl")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("_lbl").alias("label"),
            _micros(F.log(F.col("_nd").cast("double") / F.col("_n"))).alias("prior_micros"),
            _micros(F.log(F.lit(1.0) / denom)).alias("default_micros"),
        )
    )
    return token_model, label_model


def nb_scores(
    df: DataFrame,
    token_model: DataFrame,
    label_model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document against EVERY label: (id_col, label,
    score_micros), |labels| rows per doc — the pre-argmax frame
    ``nb_classify`` reduces. Exposed so downstream consumers can form
    margins/probabilities (e.g. the calibrated-selection composition:
    margin = score(pos) - score(neg) feeds isotonic calibration)."""
    tf = _tokens(df, id_col, text_col).groupBy("_id", "_tok").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    # The |tokens| x |labels| expansion is a deliberate bounded
    # nested-loop broadcast: the build side is the label model (one row
    # per class — single digits to hundreds), streamed O(n) like Spark's
    # scalar-subquery shape. A constant-key equi-join offers no escape:
    # Catalyst constant-folds it straight back to this plan.
    expanded = tf.crossJoin(F.broadcast(label_model))
    scored = expanded.join(
        token_model,
        (expanded["label"] == token_model["label"])
        & (expanded["_tok"] == token_model["token"]),
        "left",
    ).select(
        "_id",
        expanded["label"].alias("_l"),
        "prior_micros",
        (
            F.col("_tf") * F.coalesce(F.col("logp_micros"), F.col("default_micros"))
        ).alias("_contrib"),
    )
    per_label = scored.groupBy("_id", "_l").agg(
        (F.first("prior_micros") + F.sum("_contrib")).alias("score_micros")
    )
    return per_label.select(
        F.col("_id").alias(id_col), F.col("_l").alias("label"), "score_micros"
    )


def nb_classify(
    df: DataFrame,
    token_model: DataFrame,
    label_model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document against every label and return the argmax:
    (id_col, label, score_micros). Doc tokens x |labels| rows flow through
    one left join against the model — the standard NB scoring shape; the
    label list broadcasts. The per-label pre-argmax frame is
    ``nb_scores``."""
    per_label = nb_scores(df, token_model, label_model, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_micros").desc(), F.col("label").asc()
    )
    return (
        per_label.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
