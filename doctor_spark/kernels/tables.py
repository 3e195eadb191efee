"""HTML table extraction — the web-table ingest stage of a corpus
pipeline (WebTables / TableBank's shape: per page, every ``<table>`` as
a rows×cells grid of clean cell text, ready for relation extraction or
table-QA training data).

The reference service has no table stage (doctor's HTML path flattens
tables into running text, doctor/tasks.py:361-370); this module is part
of the training-data-pipeline surface next to :mod:`.html_meta` and
:mod:`.links`.

Same discipline as the sibling kernels: stdlib non-validating
``HTMLParser`` (tag soup never raises), ``convert_charrefs=True`` so
entities arrive decoded, bytes through the cleaner's encoding ladder.
Browser-lite table model without a DOM:

- a new ``<tr>`` implicitly closes the open row (and its open cell); a
  new ``<td>``/``<th>`` implicitly closes the open cell — unclosed
  row/cell tags are the dominant wild form;
- nested tables are their own tables (document-order indexed by START
  tag); text inside the inner table never leaks into the outer cell;
- text outside any cell (directly under ``<table>``/``<tr>``) is
  dropped, like the browser's "foster parenting" moves it out of the
  table;
- cell text is whitespace-run-collapsed and stripped; EMPTY cells
  survive as ``''`` (they are positional information);
- ``colspan``/``rowspan`` are not expanded — the grid is the literal
  markup grid (documented; span expansion is a downstream typed
  transform).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from .textfile import as_text

_WS_RUN = re.compile(r"\s+")

# tag-soup guards: one hostile page must stay O(page), never O(page^2)
_MAX_TABLES = 4096
_CELL_CAP = 65536


class _Table:
    __slots__ = ("rows", "row", "cell")

    def __init__(self) -> None:
        self.rows: list[list[str]] = []
        self.row: list[str] | None = None
        self.cell: list[str] | None = None


class _TableParser(HTMLParser):
    """Stack of open tables; data routes to the innermost open cell."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[list[list[str]]] = []
        self._stack: list[tuple[int, _Table]] = []

    # -- table state helpers ----------------------------------------
    @staticmethod
    def _close_cell(t: _Table) -> None:
        if t.cell is not None:
            text = _WS_RUN.sub(" ", "".join(t.cell)).strip()
            if t.row is None:  # a <td> outside <tr> opens an implicit row
                t.row = []
            t.row.append(text)
            t.cell = None

    @classmethod
    def _close_row(cls, t: _Table) -> None:
        cls._close_cell(t)
        if t.row is not None:
            t.rows.append(t.row)
            t.row = None

    # -- HTMLParser hooks --------------------------------------------
    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag == "table":
            if len(self.tables) >= _MAX_TABLES:
                return
            self.tables.append([])  # document-order index by START tag
            self._stack.append((len(self.tables) - 1, _Table()))
        elif not self._stack:
            return
        elif tag == "tr":
            self._close_row(self._stack[-1][1])
            self._stack[-1][1].row = []
        elif tag in ("td", "th"):
            t = self._stack[-1][1]
            self._close_cell(t)
            if t.row is None:
                t.row = []
            t.cell = []

    def handle_endtag(self, tag):  # noqa: D102
        if not self._stack:
            return
        t = self._stack[-1][1]
        if tag == "table":
            idx, t = self._stack.pop()
            self._close_row(t)
            self.tables[idx] = t.rows
        elif tag == "tr":
            self._close_row(t)
        elif tag in ("td", "th"):
            self._close_cell(t)

    def handle_data(self, data):  # noqa: D102
        if self._stack:
            cell = self._stack[-1][1].cell
            if cell is not None and len(cell) < _CELL_CAP:
                cell.append(data[:_CELL_CAP])

    def close(self):  # noqa: D102 — unclosed tables flush at EOF
        super().close()
        while self._stack:
            idx, t = self._stack.pop()
            self._close_row(t)
            self.tables[idx] = t.rows


def extract_tables(html: str | bytes | None) -> list[list[list[str]]]:
    """Page → list of tables (document order by ``<table>`` start tag),
    each a list of rows, each a list of cell strings.  Tables with no
    cells come back as ``[]`` (they still occupy their index — nested
    or decorative tables keep positions stable).  bytes decode via the
    reference encoding ladder; None yields ``[]``."""
    html = as_text(html)
    if html is None:
        return []
    parser = _TableParser()
    parser.feed(html)
    parser.close()
    return parser.tables
