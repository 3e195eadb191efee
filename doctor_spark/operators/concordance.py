"""KWIC concordance — keyword-in-context lines over a corpus.

The classic corpus-linguistics view (and the practical one: when a
quality rule, a contamination probe, or a tokenizer merge looks wrong,
the first question is "show me that term in context").  For a probe
term, emit one row per occurrence with the token position and ``k``
tokens of left/right context.

Scale shape: tokenize once JVM-side, find hit positions ROW-LOCALLY
(``transform`` + ``filter`` over the token array — the explode fans
out per HIT, not per token, so a no-hit document costs one array scan
and zero output rows), slice context from the same array.  Map-only,
whole-stage codegen, zero shuffles, zero Python — embarrassingly
parallel at any corpus size; output is bounded by term frequency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import tokens


def kwic(
    docs: DataFrame,
    term: str,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """``(doc_id, pos, left_ctx, right_ctx)`` — one row per occurrence
    of ``term`` (exact lowercase token match), ``pos`` 0-based in the
    whitespace token stream, contexts joined with a single space
    (empty string at document edges, never NULL)."""
    if "'" in term or "\\" in term:
        raise ValueError("term must not contain quotes/backslashes")
    base = docs.where(
        F.col(text_col).isNotNull()
        & (F.length(F.trim(F.col(text_col))) > 0)
    )
    t = base.select(
        F.col(doc_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("tk"),
    )
    hits = t.select(
        "doc_id",
        "tk",
        F.explode(
            F.expr(
                f"filter(transform(tk, (x, i) -> IF(x = '{term}', i, -1)),"
                " p -> p >= 0)"
            )
        ).alias("pos"),
    )
    left = F.expr(
        f"array_join(slice(tk, greatest(1, pos - {k} + 1),"
        f" pos + 1 - greatest(1, pos - {k} + 1)), ' ')"
    )
    right = F.expr(f"array_join(slice(tk, pos + 2, {k}), ' ')")
    return hits.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        left.alias("left_ctx"),
        right.alias("right_ctx"),
    )
