"""Character-coverage table — the vocab-building preprocessing input.

SentencePiece's ``character_coverage`` (0.9995 by default) and every
BPE-style tokenizer build start from exactly this table: corpus-wide
character counts, ranked, with cumulative coverage — which characters
make the alphabet, which fall to ``<unk>``/byte-fallback.

Scale shape: a naive per-character explode is 10^15 rows at corpus
scale.  Instead ONE Arrow kernel pass emits a PER-DOCUMENT character
histogram (two parallel arrays), so the explode fans out per DISTINCT
character per document — bounded by alphabet size, not text length —
then ONE map-side-combined keyed sum.  The rank/cumulative window runs
over the ALPHABET-sized aggregate (metadata-scale; the same global-
window argument as operators/vocab.py).  Counts are codepoint counts
(Python ``str`` iteration — the kernel's documented unit).

``cum_micro`` stays pure int64 (``cum * 1e6 DIV total``); the int64
headroom bounds the corpus at ~9.2e12 characters per table — beyond
that, pre-scale the counts (documented, not silent).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window, functions as F

from ..arrow import row_map


def _hist_row(s) -> list[tuple[list[str], list[int]]]:
    items = sorted(Counter(s if isinstance(s, str) else "").items())
    return [([k for k, _ in items], [v for _, v in items])]


def char_coverage(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """``(ch, n, rank, cum_micro)`` — corpus character counts ranked by
    (count desc, ch asc); ``cum_micro = cumsum(n) * 1e6 DIV total`` —
    pure int64, 1_000_000 at the last character."""
    base = docs.where(F.col(text_col).isNotNull()).select(
        F.col(text_col).alias("text")
    )
    hist = row_map(base, _hist_row, "chars array<string>, counts array<int>")
    per_char = (
        hist.select(
            F.explode(F.arrays_zip("chars", "counts")).alias("z")
        )
        .select(
            F.col("z.chars").alias("ch"),
            F.col("z.counts").cast("bigint").alias("c"),
        )
        .groupBy("ch")
        .agg(F.sum("c").alias("n"))
    )
    w_rank = Window.orderBy(F.desc("n"), F.asc("ch"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_char.select(
        "ch",
        F.col("n").cast("bigint").alias("n"),
        F.row_number().over(w_rank).cast("bigint").alias("rank"),
        F.sum("n").over(w_cum).alias("_cum"),
        F.sum("n").over(w_all).alias("_tot"),
    ).select(
        "ch",
        "n",
        "rank",
        F.expr("CAST(_cum * 1000000L DIV _tot AS BIGINT)").alias(
            "cum_micro"
        ),
    )
