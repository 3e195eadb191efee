"""Vocabulary-growth curve (Heaps' law) — type/token accumulation.

Every corpus card reports it: how fast does the vocabulary grow as
documents accumulate?  The curve (Heaps 1978: ``V(n) ~ K n^beta``)
diagnoses crawl diversity — a flattening curve means the frontier is
re-crawling the same template farm; a super-linear segment means a new
language or domain entered the mix.

Semantics: documents are ordered by ``doc_id``; a term's arrival point
is the FIRST document (min doc_id) containing it; the curve buckets
arrivals every ``bucket_docs`` documents and reports per-bucket new
terms plus cumulative vocabulary and document counts.

Scale shape: term arrival is ONE keyed aggregation over row-locally
distinct tokens (``array_distinct`` before the explode — no dedup
exchange); per-bucket rollups are map-side-combined keyed counts; the
cumulative window runs over the BUCKET table — ``n_docs/bucket_docs``
rows, metadata-scale by construction (10^12 docs at 10^6-doc buckets is
a 10^6-row window), which is why the single-partition global window is
acceptable here and only here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import tokens


def vocab_growth(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    bucket_docs: int = 100,
) -> DataFrame:
    """``(bucket, n_docs, n_new_terms, n_docs_cum, vocab_size)`` — one
    row per ``bucket_docs``-document bucket (bucket = doc_id DIV
    bucket_docs), cumulative columns running in bucket order."""
    base = docs.where(
        F.col(text_col).isNotNull()
        & (F.length(F.trim(F.col(text_col))) > 0)
    )
    bucket = lambda c: F.floor(F.col(c) / bucket_docs).cast("bigint")  # noqa: E731
    first = (
        base.select(
            F.col(doc_col).alias("_doc"),
            F.explode(
                F.array_distinct(
                    tokens(F.col(text_col))
                )
            ).alias("term"),
        )
        .groupBy("term")
        .agg(F.min("_doc").alias("first_doc"))
    )
    new_terms = first.groupBy(
        bucket("first_doc").alias("bucket")
    ).agg(F.count("*").alias("n_new_terms"))
    doc_counts = base.groupBy(
        bucket(doc_col).alias("bucket")
    ).agg(F.count("*").alias("n_docs"))
    joined = doc_counts.join(new_terms, "bucket", "left").select(
        "bucket",
        "n_docs",
        F.coalesce("n_new_terms", F.lit(0)).alias("n_new_terms"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "bucket",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_new_terms").cast("bigint").alias("n_new_terms"),
        F.sum("n_docs").over(w).cast("bigint").alias("n_docs_cum"),
        F.sum("n_new_terms").over(w).cast("bigint").alias("vocab_size"),
    )
