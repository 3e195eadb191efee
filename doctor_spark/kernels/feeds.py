"""RSS/Atom feed parsing — the third discovery source of a crawl
pipeline (links → sitemaps → feeds).  News-heavy corpora (CC-News'
shape) seed their frontiers from exactly these documents: RSS 2.0
``<channel><item>`` lists and Atom ``<feed><entry>`` lists.

Same non-validating ``HTMLParser`` discipline as :mod:`.sitemap`:
wild feeds full of tag soup, stray namespaces and CDATA must degrade
to skipped entries, never kill a Spark task.  Namespace prefixes are
stripped (``dc:date`` == ``date``); entity references decode via
``convert_charrefs``; CDATA bodies (ubiquitous in RSS titles) arrive
through ``unknown_decl``.

Field model (first-wins per entry, ``None`` when absent):

- ``title`` — ``<title>`` text;
- ``link`` — RSS ``<link>`` text, or the Atom ``<link href=…>``
  attribute with ``rel="alternate"`` (or relless) preferred over other
  rels;
- ``published`` — first of ``<pubDate>`` / ``<published>`` /
  ``<updated>`` / ``<date>`` (RSS 2.0, Atom, Dublin Core), raw text —
  typed parsing is a downstream transform.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from .textfile import as_text

_WS = re.compile(r"\s+")

_ENTRY_TAGS = ("item", "entry")
_TEXT_FIELDS = ("title", "link", "pubdate", "published", "updated", "date")
_MAX_ENTRIES = 50_000


class _FeedParser(HTMLParser):
    CDATA_CONTENT_ELEMENTS = ()  # rss feeds have no script/style semantics

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.kind: str | None = None
        self.entries: list[dict[str, str | None]] = []
        self._in_entry = False
        self._cur: dict[str, str | None] = {}
        self._field: str | None = None
        self._buf: list[str] = []

    @staticmethod
    def _local(tag: str) -> str:
        return tag.rsplit(":", 1)[-1]

    def handle_starttag(self, tag, attrs):  # noqa: D102
        t = self._local(tag)
        if t == "rss" and self.kind is None:
            self.kind = "rss"
        elif t == "feed" and self.kind is None:
            self.kind = "atom"
        elif t in _ENTRY_TAGS and self.kind is not None:
            self._in_entry = True
            self._cur = {}
            self._field = None
        elif self._in_entry:
            if t == "link":
                a = {k: v for k, v in attrs if v is not None}
                href = a.get("href", "").strip()
                if href:
                    rel = a.get("rel", "alternate").strip().lower()
                    # rel=alternate (or no rel) beats self/enclosure/...;
                    # a non-alternate link only fills an empty slot
                    if rel == "alternate" and "_link_alt" not in self._cur:
                        self._cur["link"] = href
                        self._cur["_link_alt"] = "1"
                    else:
                        self._cur.setdefault("link", href)
                    return
                self._field = "link"  # RSS text form
                self._buf = []
            elif t in _TEXT_FIELDS:
                self._field = t
                self._buf = []

    def handle_endtag(self, tag):  # noqa: D102
        t = self._local(tag)
        if self._in_entry and self._field == t:
            text = _WS.sub(" ", "".join(self._buf)).strip()
            if text and t not in self._cur:
                self._cur[t] = text
            self._field = None
            self._buf = []
        elif t in _ENTRY_TAGS and self._in_entry:
            self._in_entry = False
            cur = self._cur
            published = (
                cur.get("pubdate")
                or cur.get("published")
                or cur.get("updated")
                or cur.get("date")
            )
            if (cur.get("title") or cur.get("link")) and len(
                self.entries
            ) < _MAX_ENTRIES:
                self.entries.append(
                    {
                        "title": cur.get("title"),
                        "link": cur.get("link"),
                        "published": published,
                    }
                )
            self._cur = {}
            self._field = None

    def handle_data(self, data):  # noqa: D102
        if self._field is not None:
            self._buf.append(data)

    def unknown_decl(self, data):  # noqa: D102 — CDATA titles/links
        if self._field is not None and data.startswith("CDATA["):
            self._buf.append(data[len("CDATA["):])


def parse_feed(raw: str | bytes | None) -> tuple[str | None, list[dict]]:
    """Feed document → ``(kind, entries)`` with kind ``rss`` / ``atom``
    / ``None`` and entries ``[{title, link, published}, …]`` in document
    order.  Entries with neither title nor link are skipped; None or a
    non-feed yields ``(None, [])`` — never raises."""
    raw = as_text(raw)
    if raw is None:
        return None, []
    parser = _FeedParser()
    parser.feed(raw)
    parser.close()
    if parser.kind is None:
        return None, []
    return parser.kind, parser.entries
