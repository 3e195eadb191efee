"""PMI collocation mining — the corpus-level word-association table.

Pointwise mutual information over adjacent token pairs (Church & Hanks
1990) is the classic corpus-linguistics artifact and a working signal
in LLM-data tooling: multi-word entities ("new york", "habeas corpus")
surface as high-PMI pairs, boilerplate collocations as high-count
low-PMI pairs, and tokenizer-merge candidates as both.

Engine-exactness: every probability is left as COUNTS, and the single
log10 per count is quantized to int64 micro-log10
(``floor(log10(n)·1e6 + 0.5)`` — libm on both engines, the idiom
established by the LM/entropy/Naive-Bayes modules), so

    pmi_micro = L(n12) + 2·L(N_uni) − L(N_big) − L(n1) − L(n2)

is pure int64 addition — associative, overflow-free (|terms| < 2^63),
and bit-replayable in DuckDB.

Scale shape: tokens and bigrams are built with JVM array functions
(``zip_with`` over two slices — zero Python on the corpus path), then
ONE keyed count per gram order (map-side partials); the two unigram
joins hit the AGGREGATED vocab table (rows = vocabulary, not corpus),
which Catalyst/AQE broadcasts when it fits and hash-joins when it
doesn't.  The only Python is a micro-log kernel over the aggregated
tables — vocab-sized, never corpus-sized.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf
from ..functions.text import tokens
from ..micro import micro


def _micro_log10_udf():
    def ml(v):
        return None if v is None else micro(math.log10(v))

    return row_udf(ml, "long")


def collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_pair: int = 5,
) -> DataFrame:
    """``(w1, w2, n_pair, pmi_micro)`` for every adjacent token pair
    occurring at least ``min_pair`` times.  Blank documents contribute
    nothing; a one-token document contributes to unigrams only."""
    base = docs.where(F.length(F.trim(F.col(text_col))) > 0).select(
        tokens(F.col(text_col)).alias("tk")
    )
    n = F.size("tk")
    uni = base.select(F.explode("tk").alias("w")) \
        .groupBy("w").agg(F.count("*").alias("n_w"))
    bi_all = base.select(
        F.explode(
            F.zip_with(
                F.slice("tk", 1, n - 1),
                F.slice("tk", 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).groupBy("p.w1", "p.w2").agg(F.count("*").alias("n_pair"))
    bi = bi_all.where(F.col("n_pair") >= min_pair)
    # denominators over the UNFILTERED populations: N_uni = all tokens,
    # N_big = all adjacent pairs (= sum over docs of n_tokens - 1)
    totals = uni.agg(
        F.sum("n_w").alias("n_uni_total")
    ).crossJoin(
        base.agg(F.sum(n - 1).alias("n_big_total"))
    )
    ml = _micro_log10_udf()
    joined = (
        bi.join(uni.withColumnRenamed("w", "w1")
                   .withColumnRenamed("n_w", "n_w1"), "w1")
          .join(uni.withColumnRenamed("w", "w2")
                   .withColumnRenamed("n_w", "n_w2"), "w2")
          .crossJoin(F.broadcast(totals))
    )
    return joined.select(
        "w1", "w2", "n_pair",
        (
            ml(F.col("n_pair"))
            + F.lit(2) * ml(F.col("n_uni_total"))
            - ml(F.col("n_big_total"))
            - ml(F.col("n_w1"))
            - ml(F.col("n_w2"))
        ).cast("long").alias("pmi_micro"),
    )
