"""Page-metadata extraction — the head-metadata stage of a web-corpus
pipeline (trafilatura/htmldate's shape: per page, pull the title, meta
description, canonical URL, OpenGraph title, publication timestamp and
declared language out of tag soup so downstream stages can key on them).

The reference service has no metadata stage (doctor returns document
TEXT; its HTML path drops the ``<head>`` wholesale,
doctor/tasks.py:361-370 / lib/html.py) — this module belongs to the
training-data-pipeline surface of the engine, next to
:mod:`.links` (outlink edges) and :mod:`.boilerplate` (main content).

Same parsing discipline as those kernels: stdlib non-validating
``HTMLParser`` (never raises on tag soup), ``convert_charrefs=True`` so
entity references in text and attribute values arrive decoded, bytes
input through the cleaner's encoding ladder.  Every field is
**first-wins** (the browser / trafilatura convention for duplicated
head elements); absent fields are ``None``, never ``""``.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from .textfile import as_text

_WS_RUN = re.compile(r"\s+")

# Accumulation cap for <title> text: tag soup with an unclosed <title>
# would otherwise swallow the document; browsers stop at </title> or
# end-of-head, 4 KiB is far beyond any real title.
_TITLE_CAP = 4096

FIELDS = (
    "title",
    "description",
    "canonical_url",
    "og_title",
    "published_at",
    "lang_attr",
    "refresh_url",
    "charset",
)

# <meta http-equiv="refresh" content="5; url=/next"> — the delay, an
# optional url= key (case-insensitive, optional quotes around the
# target), per the WHATWG shared declarative refresh steps.
_REFRESH_URL = re.compile(
    r"^\s*[\d.]*\s*[;,]\s*(?:url\s*=\s*)?['\"]?([^'\"\s]+)", re.IGNORECASE
)
# charset=... inside a content-type value
_CONTENT_CHARSET = re.compile(r"charset\s*=\s*['\"]?([\w.:-]+)", re.IGNORECASE)


class _MetaParser(HTMLParser):
    """First-wins collector for the six metadata fields.

    ``<title>`` joins script/style in CDATA content mode — the browser
    RCDATA rule: everything until the literal ``</title>`` is text
    (``<b>`` inside a title is the characters ``<b>``, not a tag).
    HTMLParser skips charref conversion inside CDATA elements, so the
    buffered title is entity-unescaped at flush time.
    """

    CDATA_CONTENT_ELEMENTS = ("script", "style", "title")

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title: str | None = None
        self.description: str | None = None
        self.canonical_url: str | None = None
        self.og_title: str | None = None
        self.meta_published: str | None = None
        self.time_published: str | None = None
        self.lang_attr: str | None = None
        self.refresh_url: str | None = None
        self.charset: str | None = None
        self.robots_contents: list[str] = []
        self._in_title = False
        self._title_buf: list[str] = []

    # -- helpers ---------------------------------------------------
    @staticmethod
    def _attrs(attrs) -> dict[str, str]:
        """Attribute dict, names lowercased, first occurrence wins,
        valueless attributes (``<meta content>``) dropped."""
        out: dict[str, str] = {}
        for name, value in attrs:
            if value is not None and name not in out:
                out[name] = value
        return out

    def _finish_title(self) -> None:
        if self._in_title:
            self._in_title = False
            if self.title is None:
                raw = unescape("".join(self._title_buf))
                text = _WS_RUN.sub(" ", raw).strip()
                if text:
                    self.title = text
            self._title_buf = []

    # -- HTMLParser hooks ------------------------------------------
    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag == "html":
            a = self._attrs(attrs)
            if self.lang_attr is None and a.get("lang", "").strip():
                self.lang_attr = a["lang"].strip()
        elif tag == "title":
            if self.title is None:
                self._in_title = True
                self._title_buf = []
        elif tag == "meta":
            a = self._attrs(attrs)
            # <meta charset="..."> has no content attribute
            if self.charset is None and a.get("charset", "").strip():
                self.charset = a["charset"].strip().lower()
            content = a.get("content")
            if content is None:
                return
            name = a.get("name", "").strip().lower()
            prop = a.get("property", "").strip().lower()
            equiv = a.get("http-equiv", "").strip().lower()
            if name == "description" and self.description is None:
                self.description = content
            elif name in ("robots", "googlebot"):
                # ALL robots metas collect (union semantics downstream),
                # unlike the first-wins fields — REP says the most
                # restrictive directive across tags applies
                self.robots_contents.append(content)
            elif prop == "og:title" and self.og_title is None:
                self.og_title = content
            elif (
                prop == "article:published_time"
                and self.meta_published is None
            ):
                self.meta_published = content
            elif equiv == "refresh" and self.refresh_url is None:
                m = _REFRESH_URL.match(content)
                if m:
                    self.refresh_url = m.group(1)
            elif equiv == "content-type" and self.charset is None:
                m = _CONTENT_CHARSET.search(content)
                if m:
                    self.charset = m.group(1).lower()
        elif tag == "link":
            a = self._attrs(attrs)
            # rel is a space-separated token list per the HTML spec
            rels = a.get("rel", "").lower().split()
            href = a.get("href", "").strip()
            if "canonical" in rels and href and self.canonical_url is None:
                self.canonical_url = href
        elif tag == "time":
            a = self._attrs(attrs)
            dt = a.get("datetime", "").strip()
            if dt and self.time_published is None:
                self.time_published = dt

    def handle_endtag(self, tag):  # noqa: D102
        if tag == "title":
            self._finish_title()

    def handle_data(self, data):  # noqa: D102
        if self._in_title and len(self._title_buf) < _TITLE_CAP:
            self._title_buf.append(data[:_TITLE_CAP])


def extract_page_metadata(html: str | bytes | None) -> dict[str, str | None]:
    """Tag-soup page → the six-field metadata record (keys
    :data:`FIELDS`; values ``None`` when absent).

    Field semantics (each first-wins across duplicates):

    - ``title``: text content of the first non-empty ``<title>``
      (browser RCDATA: markup inside is literal text), entity refs
      decoded, whitespace runs collapsed, stripped.  A ``<title>``
      never closed before EOF yields no title — RCDATA that never
      terminates is dropped, not guessed at.
    - ``description``: ``content`` of the first
      ``<meta name="description">`` (name matched case-insensitively).
    - ``canonical_url``: ``href`` of the first ``<link>`` whose
      space-separated ``rel`` list contains ``canonical``.
    - ``og_title``: ``content`` of the first
      ``<meta property="og:title">``.
    - ``published_at``: htmldate's precedence —
      ``<meta property="article:published_time">`` beats the first
      ``<time datetime=…>`` anywhere in the page; raw attribute value,
      no date normalization (that is a downstream typed cast).
    - ``lang_attr``: ``lang`` attribute of the first ``<html>`` tag.
    - ``refresh_url``: redirect target of the first
      ``<meta http-equiv="refresh">`` whose content carries a URL
      (WHATWG declarative refresh: ``N; url=target``, quotes and the
      ``url=`` key optional) — crawlers treat these pages as redirects,
      not documents.
    - ``charset``: the page's declared encoding, lowercased —
      ``<meta charset=…>`` beats a ``charset=`` inside
      ``<meta http-equiv="content-type">`` only by document order
      (both are first-wins on the same field).

    bytes decode via the reference encoding ladder
    (utf-8 → ISO8859 → cp1252 → latin-1); a None page yields the
    all-``None`` record rather than raising — one corrupt payload must
    produce a null row, not kill a Spark task.
    """
    empty: dict[str, str | None] = {f: None for f in FIELDS}
    html = as_text(html)
    if html is None:
        return empty
    parser = _MetaParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:  # HTMLParser is non-raising by contract; belt+braces
        return empty
    parser._finish_title()  # self-closed/odd-state title leaves None
    return {
        "title": parser.title,
        "description": parser.description,
        "canonical_url": parser.canonical_url,
        "og_title": parser.og_title,
        "published_at": parser.meta_published or parser.time_published,
        "lang_attr": parser.lang_attr,
        "refresh_url": parser.refresh_url,
        "charset": parser.charset,
    }


def extract_robots_flags(html: str | bytes | None) -> tuple[bool, bool]:
    """Page-level robots-meta admission flags: ``(noindex, nofollow)``.

    Robots Exclusion Protocol meta-tag semantics (the page-level
    counterpart of kernels/robots.py's robots.txt gate; reference
    anchor: the doctor service has no crawl layer — this is the
    admission rung a Common-Crawl-style pipeline applies between fetch
    and indexing):

    - every ``<meta name="robots">`` and ``<meta name="googlebot">``
      content attribute contributes (name matched case-insensitively,
      head or body — parsers honor them anywhere);
    - a content value is a comma-separated directive list; directives
      are trimmed (ASCII whitespace) and matched case-insensitively;
    - ``noindex`` / ``nofollow`` set their flag; ``none`` sets BOTH
      (its documented meaning); ``all`` / ``index`` / ``follow`` and
      unknown directives are non-restrictive no-ops;
    - MULTIPLE tags union: the most restrictive directive across all
      tags applies — ``index`` in a later tag never clears an earlier
      ``noindex``.

    bytes decode via the reference encoding ladder; a None page
    yields ``(False, False)`` — unknown pages are admitted by
    the META gate (robots.txt and quality gates have their own say),
    and a corrupt payload must not kill a Spark task.
    """
    html = as_text(html)
    if html is None:
        return (False, False)
    parser = _MetaParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass  # flags reflect whatever was parsed before the failure
    noindex = nofollow = False
    for content in parser.robots_contents:
        for d in content.split(","):
            d = d.strip().lower()
            if d == "noindex":
                noindex = True
            elif d == "nofollow":
                nofollow = True
            elif d == "none":
                noindex = nofollow = True
    return (noindex, nofollow)
