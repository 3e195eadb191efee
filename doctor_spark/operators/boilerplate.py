"""Spark operators for the jusText-dialect boilerplate classifier.

Every operator is one ``mapInArrow`` node (``doctor_spark.arrow.row_map``) and strictly
map-only: every block of a document is classified inside the task that
holds the document's row, so there is no shuffle anywhere — the plan a
100-TB boilerplate pass needs (the context-resolution stage is per-
document by construction, unlike cross-document dedup).

Kernel: kernels/boilerplate.py (Pomikalek 2011 dialect, see its module
docstring for the exact contract).  Reference anchor: the doctor
reference's HTML path strips a fixed tag blacklist (doctor/lib/html.py);
this is the statistical stage web-corpus pipelines add on top.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from ..arrow import row_map
from ..kernels.boilerplate import classify_blocks, stopwords_for


def _as_str(html) -> str:
    """Accept string OR binary html columns (the input-table contract has
    ``html: binary``): bytes decode as utf-8-with-replacement, anything
    else (NULL) is an empty document — a poison payload must yield
    zero blocks, never a task death."""
    if isinstance(html, (bytes, bytearray)):
        return html.decode("utf-8", "replace")
    return html if isinstance(html, str) else ""


def justext_blocks(df: DataFrame, key_col: str = "url",
                   html_col: str = "html") -> DataFrame:
    """Explode each HTML document into classified block rows.

    Output: ``(key_col, block_id, btext, n_chars, n_words, link_chars,
    link_milli, stop_milli, cf_class, final_class)`` — one row per
    non-empty block, ``block_id`` is the 0-based document order.
    """
    key_type = dict(df.dtypes)[key_col]
    schema = (f"{key_col} {key_type}, block_id long, btext string, "
              "n_chars long, n_words long, link_chars long, "
              "link_milli long, stop_milli long, "
              "cf_class string, final_class string")

    def blocks(key, html):
        return [
            (key, i, b.text, b.n_chars, b.n_words, b.link_chars,
             b.link_milli, b.stop_milli, b.cf_class, b.final_class)
            for i, b in enumerate(classify_blocks(_as_str(html)))
        ]

    return row_map(df.select(key_col, html_col), blocks, schema)


def justext_doc_summary(df: DataFrame, key_col: str = "url",
                        html_col: str = "html",
                        lang_col: str | None = None) -> DataFrame:
    """One row per document: block counts (final good plus the
    context-free short/neargood census, so corpora whose text never
    clears the good band still produce a discriminative profile) and an
    md5 over the kept main content (good blocks joined by ``\\n``) so
    downstream byte-identity gates can join on the digest instead of
    shipping the text.

    With ``lang_col``, the stopword inventory is chosen per row from the
    repo's per-language lists (jusText ships one per language); unknown
    languages fall back to English, which fails closed (see
    ``stopwords_for``)."""
    key_type = dict(df.dtypes)[key_col]
    schema = (f"{key_col} {key_type}, n_blocks long, n_good long, "
              "n_short_cf long, n_neargood_cf long, "
              "good_chars long, main_md5 string")
    in_cols = [key_col, html_col] + ([lang_col] if lang_col else [])

    def summary(key, html, lang=None):
        blocks = classify_blocks(_as_str(html), stopwords_for(lang))
        good = [b for b in blocks if b.final_class == "good"]
        main = "\n".join(b.text for b in good)
        return [(key, len(blocks), len(good),
                 sum(b.cf_class == "short" for b in blocks),
                 sum(b.cf_class == "neargood" for b in blocks),
                 sum(b.n_chars for b in good),
                 hashlib.md5(main.encode("utf-8")).hexdigest())]

    return row_map(df.select(*in_cols), summary, schema)


def justext_spans(df: DataFrame, key_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """Span-lineage form of the main-content pass: one row per non-empty
    block carrying its [start_off, end_off) SOURCE char offsets in the
    HTML string plus the final class and the keep verdict — the
    "extracted text/spans per document" artifact the north rule names
    (re-highlighting, audits, and incremental re-extraction key on it).

    Output: ``(key_col, block_id, start_off, end_off, n_chars,
    final_class, kept)``.  Map-only like its siblings: spans are
    per-document by construction, so the pass is one mapInArrow stage
    with zero shuffles at any corpus size.  Offset contract:
    kernels/boilerplate.py (span-lineage section)."""
    from ..kernels.boilerplate import classify_block_spans

    key_type = dict(df.dtypes)[key_col]
    schema = (f"{key_col} {key_type}, block_id long, start_off long, "
              "end_off long, n_chars long, final_class string, "
              "kept boolean")

    def spans(key, html):
        return [
            (key, i, b.start, b.end, b.n_chars, b.final_class,
             b.final_class == "good")
            for i, b in enumerate(classify_block_spans(_as_str(html)))
        ]

    return row_map(df.select(key_col, html_col), spans, schema)
