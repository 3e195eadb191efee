"""JSON-LD structured-data extraction — the schema.org stage of a
web-corpus pipeline.

News sites, blogs, and most CMSes publish their canonical article
metadata (headline, publication date, author, publisher) as
``<script type="application/ld+json">`` blocks.  For a training-data
pipeline this is the highest-precision source of titles and dates —
cleaner than ``<title>`` (which carries site chrome) and than
``<time>`` tags (which mark every timestamp on the page).  This kernel
pulls the FIRST article-like node per page, in document order, with
hard counts of what it saw so corpus QA can measure structured-data
coverage.

Parsing discipline (same as :mod:`.html_meta` / :mod:`.links`): stdlib
non-validating ``HTMLParser`` — script bodies are CDATA so entity
references arrive verbatim (a ``&amp;`` inside a JSON string is those
five characters, exactly as browsers hand them to the JSON parser) —
then STRICT ``json.loads`` per block: a malformed block increments
``n_bad`` and is skipped, it never poisons the page or the task.

Node discovery walks, in document order: the top-level value if it is
an object; top-level array elements; and one level of ``@graph``
members (the wrapper emitted by Yoast/WordPress, far the most common
real-world shape).  A node matches if its ``@type`` (string or list)
intersects :data:`ARTICLE_TYPES`.

No reference counterpart: doctor's HTML path strips <script> wholesale
(doctor/tasks.py:361-370, lib/html.py); this belongs to the
training-data operator family next to the head-metadata stage.
"""

from __future__ import annotations

import json
from html.parser import HTMLParser

from .textfile import as_text

# schema.org types accepted as "the article node", most-specific first
# is irrelevant — matching is by document order of nodes, not by type
# preference (first-wins, the html_meta convention).
ARTICLE_TYPES = frozenset({
    "Article", "NewsArticle", "BlogPosting", "Report",
    "ScholarlyArticle", "WebPage",
})

FIELDS = (
    "ld_type",
    "headline",
    "date_published",
    "author_name",
    "publisher_name",
)

# a hostile page could carry a multi-megabyte script block; JSON-LD
# payloads are head metadata, 1 MiB is far beyond any legitimate one
_BLOCK_CAP = 1 << 20


class _LdScriptCollector(HTMLParser):
    """Collects the raw text of every ld+json script block."""

    CDATA_CONTENT_ELEMENTS = ("script", "style")

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._buf: list[str] | None = None
        self._size = 0

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag != "script":
            return
        a = {k.lower(): (v or "") for k, v in attrs}
        # MIME params allowed: 'application/ld+json; charset=utf-8'
        mime = a.get("type", "").split(";", 1)[0].strip().lower()
        if mime == "application/ld+json":
            self._buf, self._size = [], 0

    def handle_endtag(self, tag):  # noqa: D102
        if tag == "script" and self._buf is not None:
            self.blocks.append("".join(self._buf))
            self._buf = None

    def handle_data(self, data):  # noqa: D102
        if self._buf is not None and self._size < _BLOCK_CAP:
            self._buf.append(data[: _BLOCK_CAP - self._size])
            self._size += len(data)


def _nodes(value) -> list[dict]:
    """Candidate nodes in document order (see module docstring)."""
    out: list[dict] = []
    tops = value if isinstance(value, list) else [value]
    for top in tops:
        if not isinstance(top, dict):
            continue
        out.append(top)
        graph = top.get("@graph")
        if isinstance(graph, list):
            out.extend(n for n in graph if isinstance(n, dict))
    return out


def _matched_type(node: dict) -> str | None:
    t = node.get("@type")
    if isinstance(t, str):
        return t if t in ARTICLE_TYPES else None
    if isinstance(t, list):
        for v in t:
            if isinstance(v, str) and v in ARTICLE_TYPES:
                return v
    return None


def _name_of(value) -> str | None:
    """A Person/Organization field: bare string, object with ``name``,
    or a list thereof (first usable wins)."""
    if isinstance(value, str):
        return value or None
    if isinstance(value, dict):
        n = value.get("name")
        return n if isinstance(n, str) and n else None
    if isinstance(value, list):
        for v in value:
            n = _name_of(v)
            if n is not None:
                return n
    return None


def _str_field(node: dict, key: str) -> str | None:
    v = node.get(key)
    return v if isinstance(v, str) and v else None


def extract_structured_data(html: str | bytes | None) -> dict:
    """Per-page structured-data record:

    ``ld_type / headline / date_published / author_name /
    publisher_name`` from the first article-like JSON-LD node, plus
    ``n_blocks`` (ld+json scripts seen), ``n_bad`` (JSON parse
    failures), ``n_nodes`` (candidate nodes scanned).  None pages:
    all-null fields with zero counts — never raises.
    """
    rec: dict = {f: None for f in FIELDS}
    rec.update(n_blocks=0, n_bad=0, n_nodes=0)
    text = as_text(html)
    if text is None:
        return rec
    coll = _LdScriptCollector()
    try:
        coll.feed(text)
        coll.close()
    except Exception:
        # HTMLParser is non-raising by design; belt-and-braces for the
        # task-safety contract (keep whatever blocks were collected)
        pass

    found = False
    for block in coll.blocks:
        rec["n_blocks"] += 1
        try:
            value = json.loads(block)
        except (ValueError, RecursionError):
            rec["n_bad"] += 1
            continue
        for node in _nodes(value):
            rec["n_nodes"] += 1
            if found:
                continue
            t = _matched_type(node)
            if t is None:
                continue
            found = True
            rec["ld_type"] = t
            rec["headline"] = _str_field(node, "headline")
            rec["date_published"] = _str_field(node, "datePublished")
            rec["author_name"] = _name_of(node.get("author"))
            rec["publisher_name"] = _name_of(node.get("publisher"))
    return rec
