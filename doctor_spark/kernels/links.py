"""Anchor-link extraction — the web-graph ingest stage of a crawl
pipeline (cc-webgraph's shape: WARC/HTML → outlink edges → host graph →
rank, which then orders fetch frontiers and weights training mixes).

The reference service has no link-graph stage (doctor extracts document
TEXT; its HTML path strips ``<a>`` tags outright, doctor/tasks.py:361-370);
this module is part of the training-data-pipeline surface of the engine,
feeding :mod:`..operators.graph`.

Extraction uses the same stdlib ``HTMLParser`` discipline as the
boilerplate and cleaner kernels: non-validating, never raises on tag
soup, entity references in attribute values resolved by the parser
(``convert_charrefs=True`` — ``&amp;`` in an href arrives as ``&``).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from .textfile import as_text

# WHATWG URL pre-parse strips leading/trailing C0 controls and space;
# stripping the ASCII whitespace subset covers every form markup emits.
_HREF_STRIP = " \t\n\r\f\x0b"


def _admit_http(href: str | None) -> str | None:
    """``href`` whitespace-stripped when it is an absolute http(s) URL
    (scheme case-insensitive), else None."""
    if href is None:
        return None
    href = href.strip(_HREF_STRIP)
    scheme = href[: href.find(":") + 1].lower() if ":" in href else ""
    if scheme in ("http:", "https:") and href[len(scheme):].startswith("//"):
        return href
    return None


class _LinkParser(HTMLParser):
    """Collects raw ``<a href>`` attribute values in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag != "a":
            return
        for name, value in attrs:
            if name == "href" and value is not None:
                self.hrefs.append(value)
                break  # first href wins, like browsers


def extract_hrefs(html: str | bytes | None) -> list[str]:
    """All absolute http(s) ``<a href>`` targets of a page, in document
    order (duplicates kept — edge dedup is the graph operator's job).

    - bytes decode via the cleaner's encoding ladder (utf-8 → ISO8859 →
      cp1252 → latin-1), matching the HTML extract path's input contract;
    - hrefs are whitespace-stripped, then kept only when the scheme is
      http/https case-insensitively (relative, ``javascript:``,
      ``mailto:`` and other-scheme links carry no host edge);
    - tag soup never raises: ``HTMLParser`` is non-validating and
      recovers from unclosed/overlapping tags, stray ``<`` and broken
      attributes.
    """
    html = as_text(html)
    if html is None:
        return []
    parser = _LinkParser()
    parser.feed(html)
    parser.close()
    return [h for h in map(_admit_http, parser.hrefs) if h is not None]


class _AnchorParser(HTMLParser):
    """Collects ``(href, text)`` pairs in document order.

    Browser anchor semantics without a DOM: anchors never nest, so a new
    ``<a>`` start tag implicitly closes an open one; text accumulates
    from ``handle_data`` between the start tag and the matching ``</a>``
    (markup inside the anchor — ``<b>``, ``<img>`` — contributes only
    its text).  An anchor left open at EOF still flushes.
    """

    _TEXT_CAP = 4096  # tag soup guard: one unclosed <a> must not buffer the page

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.anchors: list[tuple[str, str]] = []
        self._href: str | None = None
        self._buf: list[str] = []

    def _flush(self) -> None:
        if self._href is not None:
            self.anchors.append((self._href, "".join(self._buf)))
        self._href = None
        self._buf = []

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag != "a":
            return
        self._flush()
        for name, value in attrs:
            if name == "href" and value is not None:
                self._href = value
                break  # first href wins, like browsers

    def handle_endtag(self, tag):  # noqa: D102
        if tag == "a":
            self._flush()

    def handle_data(self, data):  # noqa: D102
        if self._href is not None and len(self._buf) < self._TEXT_CAP:
            self._buf.append(data[: self._TEXT_CAP])

    def close(self):  # noqa: D102 — unclosed trailing anchor flushes at EOF
        super().close()
        self._flush()


_WS_RUN = re.compile(r"\s+")


def extract_anchors(html: str | bytes | None) -> list[tuple[str, str]]:
    """All absolute http(s) anchors of a page as ``(href, text)`` pairs,
    in document order — the link-text ingest (anchor-text corpora and
    link-based relevance signals are built from exactly this table).

    Same admission rules as :func:`extract_hrefs` (whitespace-stripped
    href, http/https schemes only, tag soup never raises); anchor text
    is entity-decoded, whitespace-run-collapsed and stripped, and MAY be
    ``''`` (image-only anchors) — empty text is the aggregation stage's
    call to drop, not the extractor's.
    """
    html = as_text(html)
    if html is None:
        return []
    parser = _AnchorParser()
    parser.feed(html)
    parser.close()
    out: list[tuple[str, str]] = []
    for href, text in parser.anchors:
        href = _admit_http(href)
        if href is not None:
            out.append((href, _WS_RUN.sub(" ", text).strip()))
    return out


class _ImgParser(HTMLParser):
    """Collects ``(src, alt)`` pairs in document order — the LAION-style
    image/alt-text pairing ingest.  ``srcset`` first candidate fills in
    when ``src`` is absent (lazy-loading markup); ``alt`` is the literal
    attribute (may be ``''`` — decorative images; the operator's call to
    drop)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.images: list[tuple[str, str]] = []

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag != "img":
            return
        a: dict[str, str] = {}
        for name, value in attrs:
            if value is not None and name not in a:
                a[name] = value
        src = a.get("src", "").strip(_HREF_STRIP)
        if not src and "srcset" in a:
            # first srcset candidate: "url [descriptor], url2 ..."
            cand = a["srcset"].split(",")[0].strip(_HREF_STRIP)
            src = cand.split()[0] if cand else ""
        if src:
            self.images.append((src, a.get("alt", "")))


def extract_image_alts(html: str | bytes | None) -> list[tuple[str, str]]:
    """All absolute http(s) ``<img>`` references of a page as
    ``(src, alt)`` pairs, in document order — the pairing table
    image-caption corpora are built from.

    Admission mirrors :func:`extract_hrefs` (whitespace-stripped src,
    http/https only); ``alt`` is entity-decoded (parser), whitespace-run
    collapsed and stripped, and MAY be ``''``.  Lazy-load markup with
    only ``srcset`` uses the first candidate URL.  Tag soup never
    raises; bytes go through the encoding ladder.
    """
    html = as_text(html)
    if html is None:
        return []
    parser = _ImgParser()
    parser.feed(html)
    parser.close()
    out: list[tuple[str, str]] = []
    for src, alt in parser.images:
        if _admit_http(src) is not None:
            out.append((src, _WS_RUN.sub(" ", alt).strip()))
    return out


class _HreflangParser(HTMLParser):
    """Collects ``<link rel="alternate" hreflang=... href=...>``
    declarations in document order (the convention search engines and
    bitext miners read; ``<a hreflang>`` is presentational and skipped)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.alts: list[tuple[str, str]] = []

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag != "link":
            return
        a = {k.lower(): v for k, v in attrs if v is not None}
        rel = a.get("rel", "")
        # rel is a space-separated token list per WHATWG
        if "alternate" not in rel.lower().split():
            return
        lang, href = a.get("hreflang"), a.get("href")
        if lang and href:
            self.alts.append((lang, href))


def extract_hreflang(html: str | bytes | None) -> list[tuple[str, str]]:
    """``(hreflang, href)`` alternates of a page, in document order —
    the cross-language page-cluster signal bitext mining starts from
    (Resnik & Smith 2003's STRAND used URL patterns; modern parallel
    corpora — e.g. CCMatrix/ParaCrawl harvesting — seed from exactly
    these declarations).

    Admission: same rules as :func:`extract_hrefs` (ws-stripped
    absolute http(s) hrefs only); hreflang values are BCP-47-shaped
    tags, lowercased with the region part upper-cased back
    (``en-us`` → ``en-US``, ``x-default`` kept verbatim); tags that
    are not ASCII-alnum-with-hyphens are dropped.  Duplicates kept —
    cluster semantics are the operator's job.
    """
    html = as_text(html)
    if html is None:
        return []
    parser = _HreflangParser()
    parser.feed(html)
    parser.close()
    out: list[tuple[str, str]] = []
    for lang, href in parser.alts:
        href = _admit_http(href)
        if href is None:
            continue
        tag = lang.strip().lower()
        if tag != "x-default":
            if not tag or not all(
                p.isalnum() and p.isascii() for p in tag.split("-")
            ) or "" in tag.split("-"):
                continue
            parts = tag.split("-")
            parts = [
                p.upper() if i > 0 and len(p) == 2 else p
                for i, p in enumerate(parts)
            ]
            tag = "-".join(parts)
        out.append((tag, href))
    return out


class _RelPaginationParser(HTMLParser):
    """First-wins collector for ``<link rel="next|prev">`` targets
    (``prev`` accepts the legacy ``previous`` token)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.next_url: str | None = None
        self.prev_url: str | None = None

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag != "link":
            return
        a = {k.lower(): v for k, v in attrs if v is not None}
        rels = a.get("rel", "").lower().split()
        href = a.get("href")
        if not href:
            return
        if "next" in rels and self.next_url is None:
            self.next_url = href
        if ("prev" in rels or "previous" in rels) and self.prev_url is None:
            self.prev_url = href


def extract_rel_pagination(
    html: str | bytes | None,
) -> tuple[str | None, str | None]:
    """``(next_url, prev_url)`` from ``<link rel="next"/"prev">`` — the
    multi-page-article stitching signal (a paginated article is ONE
    training document; the chain these links form is what reassembles
    it).  First-wins per direction; same absolute-http(s) admission as
    :func:`extract_hrefs`; tag soup and None yield ``(None, None)``,
    never an exception."""
    html = as_text(html)
    if html is None:
        return (None, None)
    p = _RelPaginationParser()
    p.feed(html)
    p.close()
    return (_admit_http(p.next_url), _admit_http(p.prev_url))
