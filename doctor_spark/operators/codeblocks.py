"""Code-block operator — pages → long-form code-listing table.

Same shape as the table/sitemap/feed ingests: one Arrow batch per
partition (kernel: :mod:`..kernels.codeblocks`), explode to one row per
block ``(blk, lang_hint, code)`` plus cheap JVM-side shape columns.
Map-only; zero shuffles at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

_BLOCKS_TYPE = "array<struct<blk:int, lang_hint:string, code:string>>"


def _blocks_udf():
    from ..kernels.codeblocks import extract_code_blocks

    def blocks(h):
        return [(i, *b) for i, b in enumerate(extract_code_blocks(h))]

    return row_udf(blocks, _BLOCKS_TYPE)


def code_blocks(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Carried columns plus ``(blk, lang_hint, code, n_lines,
    n_chars)`` — code text VERBATIM (whitespace is the payload), shape
    columns computed JVM-side after the explode."""
    carried = [c for c in pages.columns if c != html_col]
    return pages.select(
        *carried, F.explode(_blocks_udf()(F.col(html_col))).alias("_b")
    ).select(
        *carried,
        "_b.blk",
        "_b.lang_hint",
        "_b.code",
        (F.size(F.split(F.col("_b.code"), "\n", -1))).alias("n_lines"),
        F.length("_b.code").alias("n_chars"),
    )
