"""Multinomial Naive Bayes classifier TRAINING — the trainable
counterpart of the fastText-style scorer (`operators/tfidf`,
`quality_classifier`): CCNet trains exactly this kind of cheap
generative classifier for language/domain gating when a GPU model is
too expensive for a crawl-scale first pass.

Exact and engine-portable by the LM module's discipline: every model
weight is an int64 micro-log10 — ``floor(log10(count ratio)·1e6+0.5)``
with log10 evaluated by libm on BOTH engines (numpy under
:func:`..micro.micro_udf` on the Spark side, never Java's Math.log10) —
so document scores are integer SUMS, associative and reorderable, and
the argmax tie-break (score DESC, label ASC) is deterministic
cross-engine.

Model (Laplace α=1):

    lp(token│label)  = mlog10((cnt(token,label) + 1) / (T_label + V))
    lp_unseen(label) = mlog10(1 / (T_label + V))
    lp_prior(label)  = mlog10(docs_label / docs_total)

    score(d, l) = prior_l + Σ_matched lp + (n_d − matched_l)·unseen_l

The sparse form of the score (matched rows + a count-based unseen
term) means the model table holds only OBSERVED (label, token) pairs.

Scale shape: training is two keyed aggregations over the exploded
token stream (one exchange each — label-token counts, per-doc token
counts); the model is vocabulary-sized.  Scoring joins the token
stream to the model on the token key (the model side is
vocab×labels — broadcast when it fits, keyed join when it doesn't)
and one (doc,label) aggregation.  No Python anywhere on the
corpus-scale path; the only Arrow hop is the model-table-sized
micro-log10 quantization (one ``micro_udf`` per weight column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import tokens
from ..micro import log10_ratio, micro_udf


def _toks(df: DataFrame, text_col: str, extra: list[str]) -> DataFrame:
    return (
        df.select(*extra, F.explode(tokens(F.col(text_col))).alias("token"))
        .where(F.col("token") != "")
    )


def nb_train(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
):
    """Train on (label, text) rows.  Returns (model, labels):

    - model: (label, token, lp) for observed pairs;
    - labels: (label, lp_prior, lp_unseen) — one row per class.
    """
    toks = _toks(df, text_col, [F.col(label_col).alias("label")])
    cnt = toks.groupBy("label", "token").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("label").agg(F.sum("c").alias("t"))
    v = toks.select("token").distinct().count()  # scalar, bounded: |vocab|
    n_docs = df.count()
    docs_l = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("nd")
    )
    model = (
        cnt.join(tot, "label")
        .select(
            "label",
            "token",
            micro_udf(
                log10_ratio,
                (F.col("c") + 1).cast("double"),
                (F.col("t") + F.lit(v)).cast("double"),
            ).alias("lp"),
        )
    )
    labels = (
        docs_l.join(tot, "label")
        .select(
            "label",
            micro_udf(
                log10_ratio, F.col("nd").cast("double"), F.lit(float(n_docs))
            ).alias("lp_prior"),
            micro_udf(
                log10_ratio,
                F.lit(1.0),
                (F.col("t") + F.lit(v)).cast("double"),
            ).alias("lp_unseen"),
        )
    )
    return model, labels


def nb_confusion(
    df: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Self-prediction confusion matrix (label, predicted, n) — the
    operator-contract output: tiny, and any drift in counts, smoothing,
    quantization, or tie-breaks moves a cell.  Documents with no
    tokens are excluded (no evidence, both engines agree)."""
    model, labels = nb_train(df, label_col, text_col)
    toks = _toks(
        df, text_col, [F.col(id_col).alias("id")]
    )
    ntk = toks.groupBy("id").agg(F.count("*").alias("n"))
    matched = (
        toks.join(model, "token")
        .groupBy("id", "label")
        .agg(F.sum("lp").alias("s"), F.count("*").alias("k"))
    )
    base = df.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("true_label")
    ).join(ntk, "id")
    scored = (
        base.crossJoin(F.broadcast(labels))
        .join(matched, ["id", "label"], "left")
        .select(
            "id",
            "true_label",
            "label",
            (
                F.col("lp_prior")
                + F.coalesce(F.col("s"), F.lit(0))
                + (F.col("n") - F.coalesce(F.col("k"), F.lit(0)))
                * F.col("lp_unseen")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return (
        pred.groupBy(
            F.col("true_label").alias(label_col),
            F.col("label").alias("predicted"),
        )
        .agg(F.count("*").alias("n"))
    )
