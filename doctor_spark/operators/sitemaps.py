"""Sitemap ingest operator — fetched sitemap documents → frontier rows.

One Arrow batch per partition parses every document with
:func:`..kernels.sitemap.parse_sitemap` and explodes to one row per
entry ``(kind, loc, lastmod, changefreq, priority)``; non-sitemap /
undecodable documents contribute no rows.  Map-only (the explode is a
Generate) — at crawl scale the plan is scan → ArrowEvalPython →
Generate → project, same shape as the link/table ingests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

_ENTRY_TYPE = (
    "array<struct<kind:string, loc:string, lastmod:string, "
    "changefreq:string, priority:string>>"
)


def _entries_udf():
    from ..kernels.sitemap import parse_sitemap

    def entries(b):
        kind, ents = parse_sitemap(b)
        return [
            (kind, e["loc"], e["lastmod"], e["changefreq"], e["priority"])
            for e in ents
        ]

    return row_udf(entries, _ENTRY_TYPE)


def sitemap_entries(docs: DataFrame, body_col: str = "html") -> DataFrame:
    """Frontier rows from fetched sitemap documents: carried columns plus
    ``(kind, loc, lastmod, changefreq, priority)``.  ``kind`` is
    ``urlset`` / ``sitemapindex`` / ``text`` per the kernel; rows from
    a ``sitemapindex`` are CHILD SITEMAPS to fetch, not pages — the
    caller routes on ``kind``."""
    carried = [c for c in docs.columns if c != body_col]
    return docs.select(
        *carried, F.explode(_entries_udf()(F.col(body_col))).alias("_e")
    ).select(*carried, "_e.*")
