"""Quotation-span operator — documents → quoted-passage table.

Same shape as the span-lineage/code-block ingests: one Arrow batch per
partition (kernel: :mod:`..kernels.quotes`), explode to one row per
quoted span ``(quote_idx, start_off, end_off, quote_text)``.
Map-only, zero shuffles; the span table joins the dedup /
decontamination machinery downstream (a quote recurring across many
documents is exactly the n-gram the memorization audit hunts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

_QUOTES_TYPE = (
    "array<struct<quote_idx:int, start_off:int, end_off:int, "
    "quote_text:string>>"
)


def _quotes_udf(min_tokens: int):
    from ..kernels.quotes import extract_quotes

    def quotes(x):
        return [(i + 1, *q) for i, q in enumerate(extract_quotes(x, min_tokens))]

    return row_udf(quotes, _QUOTES_TYPE)


def quote_spans(
    docs: DataFrame, text_col: str = "text", min_tokens: int = 3
) -> DataFrame:
    """Carried columns plus ``(quote_idx, start_off, end_off,
    quote_text)`` — one row per kept quoted span in document order;
    quoteless/blank documents produce no rows."""
    carried = [c for c in docs.columns if c != text_col]
    udf = _quotes_udf(min_tokens).asNondeterministic()
    return docs.select(
        *carried,
        F.explode(udf(F.col(text_col))).alias("_q"),
    ).select(*carried, "_q.*")
