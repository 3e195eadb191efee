"""Chunking operator — documents → boundary-aware chunk table.

Same shape as the table/heading/code-block ingests: one Arrow batch
per partition (kernel: :mod:`..kernels.chunking`), explode to one row
per chunk ``(chunk_idx, n_tokens, kind, chunk_text)``.  Map-only,
zero shuffles at any scale — chunking is embarrassingly parallel per
document; downstream packing (operators/packing.py) or embedding
stages group the chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

_CHUNKS_TYPE = (
    "array<struct<chunk_idx:int, n_tokens:int, kind:string, "
    "chunk_text:string>>"
)


def _chunks_udf(max_tokens: int):
    from ..kernels.chunking import chunk_text

    def chunks(x):
        return chunk_text(x, max_tokens)

    return row_udf(chunks, _CHUNKS_TYPE)


def chunk_documents(
    docs: DataFrame, text_col: str = "text", max_tokens: int = 256
) -> DataFrame:
    """Carried columns plus ``(chunk_idx, n_tokens, kind, chunk_text)``
    — one row per chunk in document order; blank/NULL documents
    produce no rows."""
    carried = [c for c in docs.columns if c != text_col]
    udf = _chunks_udf(max_tokens).asNondeterministic()
    return docs.select(
        *carried,
        F.explode(udf(F.col(text_col))).alias("_c"),
    ).select(*carried, "_c.*")
