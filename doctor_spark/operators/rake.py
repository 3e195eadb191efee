"""RAKE keyword operator — documents → per-doc keyword table.

Same shape as the chunking/heading ingests: one Arrow batch per
partition (kernel: :mod:`..kernels.rake`), explode to one row per
keyword.  Map-only, zero shuffles — RAKE is per-document by design,
so keyword extraction over 10^12 documents is embarrassingly
parallel; only downstream rollups (keyword frequencies across the
corpus) ever shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

_KW_TYPE = (
    "array<struct<kw_rank:int, phrase:string, score_micro:bigint, "
    "n_words:int, n_occurrences:int>>"
)


def _rake_udf(top_k: int, max_phrase: int):
    from ..kernels.rake import rake_keywords

    def kws(x):
        kws = rake_keywords(x, top_k=top_k, max_phrase=max_phrase)
        return [(i, *kw) for i, kw in enumerate(kws)]

    return row_udf(kws, _KW_TYPE)


def rake_table(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 10,
    max_phrase: int = 4,
) -> DataFrame:
    """Carried columns plus ``(kw_rank, phrase, score_micro, n_words,
    n_occurrences)`` — one row per extracted keyword, rank 0-based in
    (score desc, phrase asc) order; documents with no candidates
    produce no rows."""
    carried = [c for c in docs.columns if c != text_col]
    udf = _rake_udf(top_k, max_phrase).asNondeterministic()
    exploded = docs.select(
        *carried, F.explode(udf(F.col(text_col))).alias("_kw")
    )
    return exploded.select(*carried, "_kw.*")
