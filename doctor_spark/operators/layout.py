"""Template-family clustering by DOM layout fingerprint — groups the
corpus into structural families (kernels/layout.py) so cleaning rules,
template-line stripping, and reskin detection operate once per family
instead of once per page.

Scale shape: ONE Arrow pass computes the fingerprint per page (cost
bounded by markup size), then ONE map-side-combined keyed aggregate on
the fingerprint; per-family host sets are collected only up to a cap
(the same bounded-collect discipline as the mirror operator — a family
spanning thousands of hosts reports the cap + the exact count, never
an unbounded list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf
from ..kernels.layout import layout_fingerprint


def _layout_fp(html):
    return layout_fingerprint(html) if html is not None else None


def layout_clusters(
    pages: DataFrame,
    html_col: str = "html",
    host_col: str = "host",
    host_cap: int = 8,
) -> DataFrame:
    """(layout_fp, n_pages, n_hosts, hosts) per layout family —
    ``hosts`` is the sorted distinct host list truncated to
    ``host_cap`` entries (joined with ','); ``n_hosts`` is exact."""
    fp = pages.where(F.col(html_col).isNotNull()).select(
        row_udf(_layout_fp, "string")(F.col(html_col)).alias("layout_fp"),
        F.col(host_col).alias("host"),
    )
    return fp.groupBy("layout_fp").agg(
        F.count("*").alias("n_pages"),
        F.size(F.collect_set("host")).alias("n_hosts"),
        F.array_join(
            F.slice(F.sort_array(F.collect_set("host")), 1, host_cap), ","
        ).alias("hosts"),
    )
