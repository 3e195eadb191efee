"""Rank-frequency statistics — the Zipf-slope fit and the Good-Turing
count-of-counts table, the two classical diagnostics a corpus release
publishes next to Heaps'-law vocabulary growth (operators/vocab.py):
the Zipf exponent says whether a source's token distribution looks
like natural language (spam farms and boilerplate skew it), and the
count-of-counts vector is the input to Good-Turing / Katz smoothing
estimates of unseen-mass.

Engine-portability (operators/tfidf.py discipline): ``ln`` (numpy/libm)
is quantized IMMEDIATELY to int64 micro by :func:`..micro.micro_udf`;
the OLS moment sums (Σx, Σy, Σxy, Σx²) are int64 sums of int64
products — aggregation-order-free — and only the final
slope/intercept ratios are IEEE doubles with a FIXED parenthesization
mirrored in the oracle.  Overflow headroom:
log-micro values are < 3·10^7 even at 10^12 tokens, so each product is
< 10^15 and the top-1000-rank cap bounds Σxy below 10^18 — inside
int64.  The cap is also the statistically honest choice: a Zipf fit is
a HEAD fit (the tail bends for every real corpus), and 1000 ranks is
the standard regime.

Scale shape: ONE corpus-sized exchange (term frequency agg, map-side
combined); everything after runs on the vocabulary-sized aggregate —
the ranking window, the log quantization (one Arrow UDF), and a
scalar moment rollup.  The count-of-counts query is the same tf agg
re-keyed by frequency — two tiny keyed aggregates stacked.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import tokens
from ..micro import MICRO, micro_udf


def term_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, freq) over the corpus — ONE map-side-combined count."""
    return (
        docs.where(
            F.col(text_col).isNotNull()
            & (F.length(F.trim(F.col(text_col))) > 0)
        )
        .select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )


def zipf_fit(
    docs: DataFrame, text_col: str = "text", top_k: int = 1000
) -> DataFrame:
    """One row: (n_ranks, slope_micro, intercept_micro) — OLS fit of
    ln(freq) on ln(rank) over the top ``top_k`` ranks, rank 1-based by
    (freq DESC, term ASC).  slope_micro ≈ -1e6 for natural text."""
    tf = term_frequencies(docs, text_col)
    # top-k FIRST via orderBy+limit — Spark compiles this to
    # TakeOrderedAndProject (per-partition heaps + driver merge), so
    # the only single-partition window below ranks <= top_k rows, not
    # the whole vocabulary
    top = tf.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(top_k)
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    ranked = (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            micro_udf(np.log, F.col("rank").cast("double")).alias("x"),
            micro_udf(np.log, F.col("freq").cast("double")).alias("y"),
        )
    )
    m = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    # fixed association order, mirrored in the oracle; micro values
    # cancel (x and y are both *1e6), so slope is dimensionless and
    # intercept comes out in micro-log units directly
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    intercept = (syd - slope * sxd) / nd
    return m.select(
        F.col("n").cast("bigint").alias("n_ranks"),
        F.floor(slope * F.lit(float(MICRO)) + F.lit(0.5))
        .cast("bigint").alias("slope_micro"),
        F.floor(intercept + F.lit(0.5)).cast("bigint")
        .alias("intercept_micro"),
    )


def freq_of_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(freq, n_terms) — the Good-Turing count-of-counts table: how
    many vocabulary terms occur exactly ``freq`` times."""
    return (
        term_frequencies(docs, text_col)
        .groupBy("freq")
        .agg(F.count("*").alias("n_terms"))
    )
