"""Per-domain TF-IDF keyword extraction — the corpus-analysis stage a
training-data pipeline runs to audit what each source actually
contributes (and the classic input to topic-level mixing decisions).

Definition (classic keyword-extraction form): for term t and domain d,

    tf(t, d)  = occurrences of t in d's documents
    df(t)     = number of DOCUMENTS (not domains) containing t
    idf(t)    = log10(N_docs / df(t))
    score     = tf * idf

Engine-portability, same discipline as operators/lm.py: idf is the only
float born here and is quantized immediately to int64 micro-log10 by
:func:`..micro.micro_udf` (``floor(log10(N/df) * 1e6 + 0.5)``,
numpy/libm over the batch on this side, DuckDB/libm in the oracle).
The ranking key ``tf * idf_micro`` is computed as ONE IEEE double
multiplication of two exactly-representable int64s — bit-identical on
any engine — and the reported score is that product divided by 1e6,
rounded to 4 decimals.  (A pure-int64 product can
overflow at tf ~ 10^12 x idf_micro ~ 10^7; the double form trades 53-bit
mantissa precision — exact up to 9·10^15, far beyond any real
tf·idf ranking gap — for overflow-freedom.)

100-TB plan: one explode + groupBy(domain, term) exchange for tf, one
distinct(doc, term) + groupBy(term) pair for df, a vocab-keyed equi-join
(never broadcast: vocab at crawl scale is huge), and a top-k window
partitioned by domain.  Domains are few, so the window funnels each
domain's vocab through one partition; ``min_df`` prunes the long tail
before the shuffle (the standard fix — a term in < min_df documents
cannot be a headline keyword).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import tokens
from ..micro import MICRO, log10_ratio, micro_udf


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    domain_col: str = "source",
    id_col: str = "doc_id",
    k: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """Top-``k`` terms per domain by tf·idf.

    Output: (domain, rank, term, tf, df_docs, score) — rank 1-based by
    (score DESC, term) within the domain; ``min_df`` drops terms seen in
    fewer documents than that before the ranking window."""
    from pyspark.sql import Window

    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(domain_col).alias("domain"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    n_docs = df.where(F.col(text_col).isNotNull()).select(
        F.countDistinct(id_col).alias("n_docs")
    )
    tf = base.groupBy("domain", "term").agg(F.count("*").alias("tf"))
    dft = (
        base.select("__id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df_docs"))
        .where(F.col("df_docs") >= min_df)
    )
    scored = (
        tf.join(dft, "term", "inner")
        .join(F.broadcast(n_docs))
        .select(
            "domain",
            "term",
            "tf",
            "df_docs",
            micro_udf(
                log10_ratio, F.col("n_docs"), F.col("df_docs")
            ).alias("idf_mu"),
        )
        .withColumn(
            "__key",
            F.col("tf").cast("double") * F.col("idf_mu").cast("double"),
        )
    )
    w = Window.partitionBy("domain").orderBy(
        F.col("__key").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "domain",
            F.col("rank").cast("bigint").alias("rank"),
            "term",
            "tf",
            "df_docs",
            F.round(F.col("__key") / MICRO, 4).alias("score"),
        )
    )
