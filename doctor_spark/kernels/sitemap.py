"""Sitemap parsing — the crawl-frontier ingest stage (sitemaps.org
protocol: ``<urlset>`` page lists with lastmod/changefreq/priority,
``<sitemapindex>`` pointing at child sitemaps, and the plain-text
one-URL-per-line form).  Every large crawl seeds and refreshes its
frontier from exactly these documents.

The reference service has no crawl stage (doctor receives documents
over HTTP); this module sits next to :mod:`.robots` (politeness) and
:mod:`.links` (discovery) on the web-corpus side of the engine.

Parsing uses the same non-validating ``HTMLParser`` discipline as the
sibling kernels — real-world sitemaps are usually valid XML, but the
wild ones that aren't must degrade to skipped entries, never to a
killed Spark task.  Entity references decode via ``convert_charrefs``;
``<![CDATA[...]]]>`` bodies (legal in ``<loc>``) arrive through
``unknown_decl``.  Namespace prefixes are stripped (``ns:loc`` ==
``loc``), matching how lenient consumers read vendor feeds.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from .textfile import as_text

_WS = re.compile(r"\s+")

_FIELDS = ("loc", "lastmod", "changefreq", "priority")
_MAX_ENTRIES = 200_000  # spec caps a sitemap at 50k URLs; 4x headroom


class _SitemapParser(HTMLParser):
    """Collects (kind, entries) from urlset / sitemapindex documents."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.kind: str | None = None
        self.entries: list[dict[str, str | None]] = []
        self._entry: dict[str, str | None] | None = None
        self._field: str | None = None
        self._buf: list[str] = []

    @staticmethod
    def _local(tag: str) -> str:
        return tag.rsplit(":", 1)[-1]

    def handle_starttag(self, tag, attrs):  # noqa: D102
        t = self._local(tag)
        if t in ("urlset", "sitemapindex") and self.kind is None:
            self.kind = t
        elif t in ("url", "sitemap") and self.kind is not None:
            self._entry = {f: None for f in _FIELDS}
        elif t in _FIELDS and self._entry is not None:
            self._field = t
            self._buf = []

    def handle_endtag(self, tag):  # noqa: D102
        t = self._local(tag)
        if t in _FIELDS and self._field == t and self._entry is not None:
            text = _WS.sub(" ", "".join(self._buf)).strip()
            if text and self._entry[t] is None:
                self._entry[t] = text
            self._field = None
            self._buf = []
        elif t in ("url", "sitemap") and self._entry is not None:
            if self._entry["loc"] and len(self.entries) < _MAX_ENTRIES:
                self.entries.append(self._entry)
            self._entry = None
            self._field = None

    def handle_data(self, data):  # noqa: D102
        if self._field is not None:
            self._buf.append(data)

    def unknown_decl(self, data):  # noqa: D102 — <![CDATA[...]]> bodies
        if self._field is not None and data.startswith("CDATA["):
            self._buf.append(data[len("CDATA["):])


def parse_sitemap(raw: str | bytes | None) -> tuple[str | None, list[dict]]:
    """Sitemap document → ``(kind, entries)``.

    - XML ``<urlset>`` → ``("urlset", [{loc, lastmod, changefreq,
      priority}, …])``; ``<sitemapindex>`` → ``("sitemapindex", …)``
      (child-sitemap entries use the same keys; changefreq/priority stay
      ``None``).  Entries without a ``<loc>`` are skipped; text is
      entity-decoded, CDATA-unwrapped, whitespace-collapsed.
    - Plain-text sitemaps (no recognized root element, ≥1 line starting
      with ``http``) → ``("text", …)`` with one entry per http(s) line.
    - Anything else (None, empty, non-sitemap XML/HTML) →
      ``(None, [])`` — never raises.
    """
    raw = as_text(raw)
    if raw is None:
        return None, []
    parser = _SitemapParser()
    parser.feed(raw)
    parser.close()
    if parser.kind is not None:
        return parser.kind, parser.entries
    # plain-text form: one URL per line
    entries = []
    for line in raw.splitlines():
        line = line.strip()
        low = line.lower()
        if low.startswith(("http://", "https://")):
            entries.append(
                {
                    "loc": line,
                    "lastmod": None,
                    "changefreq": None,
                    "priority": None,
                }
            )
            if len(entries) >= _MAX_ENTRIES:
                break
    if entries:
        return "text", entries
    return None, []
