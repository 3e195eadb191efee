"""Heading-outline operator — pages → long-form h1–h6 outline table.

Same shape as the table/code-block/sitemap ingests: one Arrow batch
per partition (kernel: :mod:`..kernels.headings`), explode to one row
per kept heading ``(seq, level, parent, text)``.  Map-only; zero
shuffles at any scale — structure-aware chunking then groups by
(doc, parent-chain) downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

_OUTLINE_TYPE = (
    "array<struct<seq:int, level:int, parent:int, text:string, "
    "truncated:boolean>>"
)


def _outline_udf():
    from ..kernels.headings import extract_headings

    def outline(h):
        rows, truncated = extract_headings(h)
        return [(*r, truncated) for r in rows]

    return row_udf(outline, _OUTLINE_TYPE)


def heading_outline(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Carried columns plus ``(seq, level, parent, text, truncated)``
    — one row per kept heading in document order; ``parent`` is the
    seq of the nearest prior heading with a strictly smaller level
    (-1 at the top level).  Pages with no headings produce no rows."""
    carried = [c for c in pages.columns if c != html_col]
    return pages.select(
        *carried,
        F.explode(_outline_udf()(F.col(html_col))).alias("_h"),
    ).select(*carried, "_h.*")
