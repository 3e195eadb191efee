"""Feed ingest operator — fetched RSS/Atom documents → frontier rows.

Same shape as :mod:`.sitemaps`: one Arrow batch per partition parses
every document (kernel: :mod:`..kernels.feeds`) and explodes to one row
per entry ``(kind, title, link, published)``; non-feed / undecodable
documents contribute no rows.  Map-only — scan → ArrowEvalPython →
Generate → project.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

_ENTRY_TYPE = (
    "array<struct<kind:string, title:string, link:string, published:string>>"
)


def _entries_udf():
    from ..kernels.feeds import parse_feed

    def entries(b):
        kind, ents = parse_feed(b)
        return [(kind, e["title"], e["link"], e["published"]) for e in ents]

    return row_udf(entries, _ENTRY_TYPE)


def feed_entries(docs: DataFrame, body_col: str = "html") -> DataFrame:
    """Frontier rows from fetched feed documents: carried columns plus
    ``(kind, title, link, published)`` — ``kind`` is ``rss``/``atom``;
    ``published`` is the raw first-of pubDate/published/updated/date
    string (typed parsing downstream)."""
    carried = [c for c in docs.columns if c != body_col]
    return docs.select(
        *carried, F.explode(_entries_udf()(F.col(body_col))).alias("_e")
    ).select(*carried, "_e.*")
