"""Inverted posting-list shard — the search-index artifact over a corpus.

Every corpus tool eventually wants term lookup: decontamination probes,
quote tracing, quality-rule debugging ("show me the docs containing
X"), and BM25-style retrieval baselines all run on an inverted index.
This operator builds the index SHARD a 10^12-row corpus can afford:
``(term, df, doc_id, positions)`` rows — term-keyed, positions
in-document — that a writer can range-partition by term into sorted
shard files.

Scale discipline — the stopword problem is handled BEFORE materializing
lists: a hot term ("the") would otherwise collect a posting for every
document into one aggregation buffer.  Two phases:

1. document frequencies: ONE (term) count over term-distinct tokens
   per doc (distinct applied ROW-LOCALLY via ``array_distinct`` — no
   dedup exchange);
2. positions are collected ONLY for terms with ``df <= df_cap``: the
   token stream is ANTI-joined against the OVER-cap term list — which
   is by construction tiny (few terms appear in more than ``df_cap``
   documents), so it BROADCASTS — then ONE (term, doc) aggregation and
   a vocab-sized keyed join attaches df.

Capped terms still appear in the df table (callers see they exist);
they simply carry no postings — exactly how production indexes treat
stopwords.  All list building is JVM-side (``sort_array`` /
``collect_list`` of int positions per (term, doc) — bounded by a
document's length, never by corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import tokens


def term_dfs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(term, df)`` — document frequency per term.  Row-local
    distinct (array_distinct before the explode), ONE keyed count."""
    base = docs.where(F.length(F.trim(F.col(text_col))) > 0)
    return base.select(
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term")
    ).groupBy("term").agg(F.count("*").alias("df"))


def inverted_postings(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int = 1000,
) -> DataFrame:
    """``(term, df, doc_id, positions)`` — one row per (term, document)
    for terms with ``df <= df_cap``; ``positions`` is the ascending
    0-based token-position list joined with ``,`` (a string so the row
    is engine-portable and shard files stay columnar-friendly)."""
    base = docs.where(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(doc_col).alias("doc_id"), tokens(F.col(text_col)).alias("tk")
    )
    dfs = term_dfs(docs.select(F.col(text_col)), text_col=text_col)
    hot = dfs.where(F.col("df") > df_cap).select("term")
    tok_pos = base.select(
        "doc_id", F.posexplode("tk").alias("pos", "term")
    )
    per_doc = (
        tok_pos.join(F.broadcast(hot), "term", "left_anti")
        .groupBy("term", "doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("pos")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("positions")
        )
    )
    return per_doc.join(dfs, "term").select(
        "term", "df", "doc_id", "positions"
    )


def postings_compression(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Index storage accounting: per-term VByte-compressed posting-list
    size from delta-encoded doc ids — the arithmetic every search/dedup
    index (Lucene, CC's columnar URL indexes) runs when sizing shards.

    Definition (pure int64, no floats anywhere):

    - posting list of term t = ascending distinct doc_ids containing t;
    - delta gaps: first = doc_id + 1 (ids are 0-based), then the
      successive differences — all >= 1;
    - VByte length of gap g: 1 byte per started 7-bit group, i.e.
      1 + [g >= 2^7] + [g >= 2^14] + [g >= 2^21] + [g >= 2^28]
      (doc ids are < 2^35 by contract here);
    - per term: df, ``vbyte_bytes`` = sum of gap lengths,
      ``fixed_bytes`` = 8·df (the int64 baseline), and
      ``ratio_micro`` = vbyte_bytes·1e6 DIV fixed_bytes.

    Plan shape: the row-local distinct explode of :func:`term_dfs`
    feeds ONE exchange on term; the lag window (gap computation) and
    the per-term aggregate both consume that same partitioning, so the
    whole operator is scan → one shuffle → vocabulary-sized output.

    100-TB note: a stopword's posting list lands in one window
    partition (df can approach corpus size).  The window is a simple
    running lag — Spark spills it — but a production index would
    block-segment postings anyway; the block variant (gap windows per
    (term, doc_id DIV B), then per-term sum, one extra subtraction at
    block heads) composes on the same exchange and is the documented
    scale path.  This form is the exact accounting at test scales.
    """
    from pyspark.sql import Window

    presence = (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(doc_col).alias("doc_id"),
            F.explode(
                F.array_distinct(tokens(F.col(text_col)))
            ).alias("term"),
        )
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    gaps = presence.withColumn(
        "gap",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(w),
            F.col("doc_id") + F.lit(1),
        ),
    )
    vlen = (
        F.lit(1)
        + (F.col("gap") >= F.lit(1 << 7)).cast("long")
        + (F.col("gap") >= F.lit(1 << 14)).cast("long")
        + (F.col("gap") >= F.lit(1 << 21)).cast("long")
        + (F.col("gap") >= F.lit(1 << 28)).cast("long")
    )
    return (
        gaps.withColumn("vlen", vlen)
        .groupBy("term")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("vlen").cast("bigint").alias("vbyte_bytes"),
        )
        .select(
            "term",
            "df",
            "vbyte_bytes",
            (F.col("df") * 8).cast("bigint").alias("fixed_bytes"),
            F.expr("(vbyte_bytes * 1000000) div (df * 8)")
            .cast("bigint")
            .alias("ratio_micro"),
        )
    )
