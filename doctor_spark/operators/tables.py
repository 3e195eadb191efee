"""Web-table operators — pages → long-form cell table.

``table_cells`` is the scale form a table-corpus pipeline runs: one
Arrow batch per partition extracts every ``<table>`` grid (kernel:
:mod:`..kernels.tables`), then an ``explode`` flattens to one row per
cell ``(tbl, row, col, cell)``.  Map-only — the explode is a Generate,
not a shuffle; at 10^12 pages the plan is scan → ArrowEvalPython →
Generate → project, the extraction shape with a fan-out.

``table_stats`` is the per-page rollup (table/row/cell counts, max
width) used as a quality/selection signal — computed inside the same
Arrow batch so it stays zero-shuffle.

No reference counterpart: doctor's HTML path flattens tables into
running text (doctor/tasks.py:361-370).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

_CELLS_TYPE = "array<struct<tbl:int, row:int, col:int, cell:string>>"
_STATS_TYPE = (
    "struct<n_tables:int, n_rows:int, n_cells:int, max_cols:int>"
)


def _cells_udf():
    from ..kernels.tables import extract_tables

    def cells(h):
        return [
            (t, r, c, cell)
            for t, rows in enumerate(extract_tables(h))
            for r, row in enumerate(rows)
            for c, cell in enumerate(row)
        ]

    return row_udf(cells, _CELLS_TYPE)


def _stats_udf():
    from ..kernels.tables import extract_tables

    def stats(h):
        tables = extract_tables(h)
        n_rows = sum(len(t) for t in tables)
        n_cells = sum(len(r) for t in tables for r in t)
        max_cols = max((len(r) for t in tables for r in t), default=0)
        return len(tables), n_rows, n_cells, max_cols

    return row_udf(stats, _STATS_TYPE)


def table_cells(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Long-form cell table: every other column of ``pages`` is carried
    through, plus ``(tbl, row, col, cell)`` — 0-based document-order
    table index (by ``<table>`` start tag), row index, column index
    (literal markup grid, spans not expanded), collapsed cell text
    (``''`` for empty cells).  Pages without tables contribute no rows
    (inner explode)."""
    carried = [c for c in pages.columns if c != html_col]
    return pages.select(
        *carried, F.explode(_cells_udf()(F.col(html_col))).alias("_c")
    ).select(*carried, "_c.*")


def table_stats(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Per-page table shape rollup ``(n_tables, n_rows, n_cells,
    max_cols)`` appended to ``pages`` — zero shuffles."""
    s = _stats_udf()(F.col(html_col))
    return pages.select(
        "*",
        *[
            s.getField(f).alias(f)
            for f in ("n_tables", "n_rows", "n_cells", "max_cols")
        ],
    )
