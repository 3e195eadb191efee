"""Stem-conflation rollup — Porter-stemmed vocabulary folding, the
index-normalization stage that sits between tokenization and the
postings/BM25/decontamination operators.

Scale discipline (the IDN distinct-host pattern): the Python stemmer
runs over the DISTINCT vocabulary only — web-corpus vocabulary is
millions of terms where the token stream is trillions — and the
(term -> stem) map re-attaches to the corpus-sized stream by a keyed
equi-join.  For the small-vocab case the join side broadcasts; at
crawl scale the vocabulary exceeds broadcast size and the same
equi-join shuffles both sides on ``term``, which AQE handles — the
Python cost stays vocabulary-bounded either way.  The conflation
aggregate collects surface forms per stem, bounded by inflection
family size, never corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf
from ..functions.text import tokens
from ..kernels.porter import porter_stem


def stem_conflation(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(stem, n_tokens, n_forms, forms) per stem over the corpus:
    total token occurrences, distinct surface forms conflated, and
    the sorted comma-joined form list."""
    toks = docs.where(
        F.col(text_col).isNotNull()
        & (F.length(F.trim(F.col(text_col))) > 0)
    ).select(F.explode(tokens(F.col(text_col))).alias("term"))
    # vocab is materialized (it is the SMALL side — distinct terms),
    # so the final join re-scans the corpus exactly once for the token
    # stream instead of re-exploding it a second time under the vocab
    # branch; the stemmer runs once per distinct term here and never
    # again.
    vocab = (
        toks.distinct()
        .select("term", row_udf(porter_stem, "string")(F.col("term")).alias("stem"))
        .localCheckpoint(eager=True)
    )
    return (
        toks.join(vocab, "term")
        .groupBy("stem")
        .agg(
            F.count("*").alias("n_tokens"),
            F.size(F.collect_set("term")).alias("n_forms"),
            F.array_join(
                F.sort_array(F.collect_set("term")), ","
            ).alias("forms"),
        )
    )
