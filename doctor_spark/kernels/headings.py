"""Heading-outline extraction — the h1–h6 skeleton of a page, in
document order, with the hierarchy made explicit.

No reference counterpart: doctor stops at flat document text
(lib/text_extraction.py); a training-data pipeline uses the heading
tree next — structure-aware chunking (split at h2 boundaries),
section-title metadata per chunk, and markdown reconstruction all
consume this table.

Spec (deterministic, unit-testable — the driver oracle replays
expected outlines as literals):

- headings are ``<h1>``..``<h6>`` START tags in document order; the
  heading's text is every data/entity run until the matching close
  (inline markup is transparent; a nested ``<hN>`` start implicitly
  closes the open one, browser-style), entity refs decoded by the
  parser, whitespace runs collapsed, stripped;
- empty headings are dropped (anchors-only ``<h2 id=x></h2>`` chrome);
- ``parent``: the seq of the most recent PRIOR kept heading with a
  strictly smaller level, else -1 — the outline tree in one column;
- text inside ``<script>``/``<style>`` never contributes;
- headings are capped at :data:`MAX_HEADINGS` per page (counted, not
  silent: the return carries ``truncated``);
- bytes decode via the shared reference ladder
  (:func:`.textfile.as_text`); ``None`` pages yield ``([], False)`` —
  one corrupt payload must produce zero rows, not kill a Spark task.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from .textfile import as_text

_WS_RUN = re.compile(r"\s+")
_H_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))
_SKIP_TAGS = frozenset(("script", "style"))

MAX_HEADINGS = 2048
_MAX_TEXT = 4096  # per-heading text cap, matches html_meta's title cap


class _OutlineParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.out: list[tuple[int, str]] = []  # (level, text)
        self.truncated = False
        self._level = 0       # open heading level, 0 = none
        self._buf: list[str] = []
        self._buf_len = 0
        self._skip = 0        # script/style nesting depth

    def _flush(self) -> None:
        if not self._level:
            return
        text = _WS_RUN.sub(" ", "".join(self._buf)).strip()
        if text:
            if len(self.out) < MAX_HEADINGS:
                self.out.append((self._level, text[:_MAX_TEXT]))
            else:
                self.truncated = True
        self._level = 0
        self._buf = []
        self._buf_len = 0

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag in _SKIP_TAGS:
            self._skip += 1
        elif tag in _H_TAGS:
            self._flush()  # implicit close, browser-style
            self._level = int(tag[1])

    def handle_endtag(self, tag):  # noqa: D102
        if tag in _SKIP_TAGS:
            if self._skip:
                self._skip -= 1
        elif tag in _H_TAGS:
            self._flush()

    def handle_data(self, data):  # noqa: D102
        if self._level and not self._skip and self._buf_len < _MAX_TEXT:
            self._buf.append(data)
            self._buf_len += len(data)


def extract_headings(
    html: str | bytes | None,
) -> tuple[list[tuple[int, int, int, str]], bool]:
    """Page → ``([(seq, level, parent, text), ...], truncated)`` per the
    module spec.  Never raises on garbage input."""
    html = as_text(html)
    if html is None:
        return [], False
    parser = _OutlineParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:  # HTMLParser is non-raising by contract; belt+braces
        return [], False
    parser._flush()  # heading left open at EOF keeps its text
    rows: list[tuple[int, int, int, str]] = []
    stack: list[tuple[int, int]] = []  # (level, seq) strictly increasing
    for seq, (level, text) in enumerate(parser.out):
        while stack and stack[-1][0] >= level:
            stack.pop()
        parent = stack[-1][1] if stack else -1
        rows.append((seq, level, parent, text))
        stack.append((level, seq))
    return rows, parser.truncated
