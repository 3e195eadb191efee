"""Code-block extraction — the code-corpus ingest stage (StarCoder-style
pipelines mine ``<pre>``/``<code>`` blocks out of web pages; the cell
every other kernel here collapses is the one thing this kernel must
preserve: WHITESPACE IS THE PAYLOAD).

Contract:

- a block is a ``<pre>`` element; its text content is preserved
  verbatim (entities decoded, no whitespace collapse, markup inside
  contributes only its text) except the single leading newline right
  after ``<pre>`` which the HTML spec itself drops;
- the language hint is the first ``language-X`` / ``lang-X`` class
  token on the ``<pre>`` or on a ``<code>`` inside it (the
  highlight.js / GFM convention), else ``None``;
- inline ``<code>`` OUTSIDE ``<pre>`` is not a block (that is prose
  markup, not a code listing) — documented and tested;
- blocks that are empty after the spec newline drop are skipped;
- tag soup never raises; a ``<pre>`` left open at EOF still flushes;
  bytes decode via the cleaner's encoding ladder.

The reference flattens ``<pre>`` like any other tag
(doctor/tasks.py:361-370); this module is training-data-pipeline
surface next to :mod:`.tables` and :mod:`.html_meta`.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from .textfile import as_text

_LANG_CLASS = re.compile(r"(?:^|\s)(?:language|lang)-([\w#+.-]+)", re.IGNORECASE)
_BLOCK_CAP = 1 << 20  # one hostile unclosed <pre> stays O(page)


class _CodeParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str | None, str]] = []
        self._in_pre = 0
        self._lang: str | None = None
        self._buf: list[str] = []

    @staticmethod
    def _class_lang(attrs) -> str | None:
        for name, value in attrs:
            if name == "class" and value:
                m = _LANG_CLASS.search(value)
                if m:
                    return m.group(1).lower()
        return None

    def _flush(self) -> None:
        text = "".join(self._buf)
        if text.startswith("\n"):  # the spec's post-<pre> newline drop
            text = text[1:]
        if text:
            self.blocks.append((self._lang, text))
        self._in_pre = 0
        self._lang = None
        self._buf = []

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag == "pre":
            if self._in_pre:  # a new <pre> implicitly closes the open one
                self._flush()
            self._in_pre = 1
            self._lang = self._class_lang(attrs)
            self._buf = []
        elif tag == "code" and self._in_pre and self._lang is None:
            self._lang = self._class_lang(attrs)
        elif tag == "br" and self._in_pre:
            self._buf.append("\n")

    def handle_endtag(self, tag):  # noqa: D102
        if tag == "pre" and self._in_pre:
            self._flush()

    def handle_data(self, data):  # noqa: D102
        if self._in_pre and len(self._buf) < _BLOCK_CAP:
            self._buf.append(data[:_BLOCK_CAP])

    def close(self):  # noqa: D102 — unclosed <pre> flushes at EOF
        super().close()
        if self._in_pre:
            self._flush()


def extract_code_blocks(
    html: str | bytes | None,
) -> list[tuple[str | None, str]]:
    """Page → ``[(lang_hint, verbatim_text), …]`` in document order.
    None yields ``[]``; never raises."""
    html = as_text(html)
    if html is None:
        return []
    parser = _CodeParser()
    parser.feed(html)
    parser.close()
    return parser.blocks
