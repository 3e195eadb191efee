"""Paragraph-level language segmentation — CCNet's processing unit.

CCNet (Wenzek et al. 2020) and the pipelines derived from it operate on
PARAGRAPHS, not documents: a crawled page routinely mixes languages
(navigation chrome in English, body in German; quoted sources; bilingual
boilerplate), and a document-level language vote mislabels every mixed
page.  This operator segments each document on newlines and runs the
engine's 27-language identifier (functions/text.py ``lang_guess`` — the
same single source of truth the doc-level ``lang_id`` query and its
oracle share) on every paragraph, then rolls the per-paragraph votes up
to a per-document profile: paragraph count, distinct-language count,
plurality language with a deterministic tie-break, plurality fraction
as int64 micro, and a mixed-language flag.

No reference counterpart: doctor stops at document text
(lib/text_extraction.py); a multilingual training-data pipeline filters
and routes on exactly this profile (CCNet keeps paragraphs whose lang
matches the target and drops chrome).

100-TB plan: the split + per-paragraph lang vote is ROW-LOCAL (one
Arrow kernel pass over exploded paragraphs, zero Python on the
document-sized path beyond it); the rollup is ONE map-side-combined
keyed aggregate on (doc_id, lang) whose fan-in is bounded by languages
per document, then a doc_id window + final aggregate that reuse the
(doc_id, ...) partitioning.  Nothing in the plan scales worse than the
corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..micro import MICRO


def paragraph_langs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document language profile from per-paragraph votes.

    Paragraph = newline-separated segment with non-empty ASCII-space
    trim (the trimmed form is what gets scored); NULL text or all-blank
    documents produce no row.  Output columns:

    - ``n_paras``: scored paragraphs
    - ``n_langs``: distinct languages voted (incl. ``und``)
    - ``major_lang``: plurality language, ties broken by lang ascending
    - ``major_frac_micro``: ``n_major * 1e6 DIV n_paras`` (int64 — no
      float division anywhere)
    - ``mixed``: ``n_langs > 1``
    """
    from doctor_spark.functions.text import lang_guess_udf

    paras = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), "\n")).alias("raw"),
        )
        .select("doc_id", F.trim(F.col("raw")).alias("para"))
        .where(F.length("para") > 0)
    )
    voted = paras.select(
        "doc_id", lang_guess_udf()(F.col("para")).alias("plang")
    )
    counts = voted.groupBy("doc_id", "plang").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n").desc(), F.col("plang").asc()
    )
    ranked = counts.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_paras"),
            F.count("*").cast("bigint").alias("n_langs"),
            F.max(F.when(F.col("rn") == 1, F.col("plang"))).alias(
                "major_lang"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("n"))).alias("n_major"),
        )
        .select(
            "doc_id",
            "n_paras",
            "n_langs",
            "major_lang",
            F.expr(f"(n_major * {MICRO}) div n_paras")
            .cast("bigint")
            .alias("major_frac_micro"),
            (F.col("n_langs") > 1).alias("mixed"),
        )
    )
