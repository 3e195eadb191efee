"""Okapi BM25 ranked retrieval — the scoring stage on top of the
inverted-index artifact (operators/postings.py).

A corpus pipeline runs ranked retrieval constantly: decontamination
probes ("which training docs answer this benchmark question"), quality
audits ("top documents for this topic"), and retrieval-baseline evals
all reduce to BM25 over the crawl.  This operator scores a SMALL query
set against the WHOLE corpus — the shape that must scale to 10^12
documents on the corpus side while the query side stays driver-tiny.

Definition (Lucene's non-negative variant):

    idf(t)      = ln( (N - df(t) + 0.5) / (df(t) + 0.5) + 1 )
    tfn(t, D)   = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score(Q, D) = sum over distinct t in Q of idf(t) * tfn(t, D)

Engine-portability discipline (same as operators/tfidf.py / lm.py):
``ln`` is the only transcendental (numpy/libm over the batch) and is
quantized IMMEDIATELY to int64 micro by :func:`..micro.micro_udf`
(``floor(ln(..) * 1e6 + 0.5)``).  Every later step is either a
correctly-rounded IEEE-double op on exactly-representable inputs with a
FIXED association order (mirrored parenthesis-for-parenthesis in the
DuckDB oracle) or int64 math; the per-(query, doc, term) contribution
is floored back to int64 micro BEFORE the score sum, so the final
``SUM`` is integer and therefore aggregation-order-free — Spark may
combine partials in any order and still match the oracle bit-for-bit.

100-TB plan: the corpus-sized token stream is pruned by a BROADCAST
semi-join against the query vocabulary (a handful of terms) BEFORE any
exchange, so the one real shuffle — the (doc, term) tf aggregation —
carries only query-matching tokens.  Document frequencies are derived
FROM that tf aggregate (one row per (doc, matching term) already
exists there — no second corpus scan), corpus size and total length
from ONE scalar aggregate; both re-attach by broadcast.
The final top-k window partitions by query_id — rows per query are
bounded by matching docs, and k cuts the output; at crawl scale you
would cap candidates per query with a WHERE on a cheap prefilter, which
composes trivially in front of this operator.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import tokens
from ..micro import MICRO, micro_udf
from ..session import pin


def _bm25_idf(n, d):
    """BM25 idf over a batch of (corpus size, document frequency)."""
    return np.log((n - d + 0.5) / (d + 0.5) + 1.0)


def _bm25_topk_with_stats(
    docs: DataFrame,
    queries: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> tuple[DataFrame, int, int]:
    """:func:`bm25_topk` plus the exact corpus stats it computed —
    ``(top_df, n_docs, sum_dl)`` — so composite operators (PRF) reuse
    them instead of paying another corpus pass."""
    from pyspark.sql import Observation

    base = docs.where(
        F.col(text_col).isNotNull()
        & (F.length(F.trim(F.col(text_col))) > 0)
    ).select(
        F.col(doc_col).alias("doc_id"), tokens(F.col(text_col)).alias("tk")
    )

    # Corpus size + total token count piggyback on the tf pass below as
    # an ``observe()`` aggregate (the connected-components trick): every
    # base row streams through the pin's job exactly once, so a
    # SEPARATE stats scan of the corpus — a second full tokenize pass —
    # is gone (guide §1.2: one unavoidable pass, everything measured on
    # it).  The values are exact integers and enter the score expression
    # as literals with the identical cast/association shape the oracle
    # mirrors.
    obs = Observation()
    base = base.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("tk")).alias("sum_dl"),
    )

    # per-query DISTINCT terms (classic BM25 ignores query-term
    # multiplicity); the flat term set is the broadcast prune key.
    qterms = queries.select(
        "query_id",
        F.explode(
            F.array_distinct(tokens(F.col("query_text")))
        ).alias("term"),
    ).where(F.col("term") != "")
    terms = qterms.select("term").distinct()

    # tf per (doc, term), dl carried through the explode (functionally
    # dependent on doc_id — no join to re-attach it).  The broadcast
    # semi-join prunes BEFORE the aggregation exchange — the ONE
    # corpus-sized shuffle this operator performs.
    tf = pin(
        base.select("doc_id", F.size("tk").alias("dl"),
                    F.explode("tk").alias("term"))
        .join(F.broadcast(terms), "term", "left_semi")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
        # tf feeds BOTH the df count and the contribution join; without
        # an explicit materialization Spark recomputes the whole corpus
        # explode for each branch (column pruning gives the two
        # subtrees different canonical forms, so ReuseExchange cannot
        # dedupe them).  ``pin`` materializes the query-matching tf
        # rows — tiny relative to the corpus — exactly once (and that
        # one job populates the stats observation).
    )
    try:
        st = obs.get
        n_docs, sum_dl = int(st["n_docs"]), int(st["sum_dl"] or 0)
    except Exception:
        # degenerate corpora (zero query-matching rows) can leave the
        # observation row empty under AQE — fall back to the explicit
        # scalar aggregate (one extra cheap pass, only on this edge)
        r = base.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("tk")).alias("sum_dl"),
        ).collect()[0]
        n_docs, sum_dl = int(r["n_docs"]), int(r["sum_dl"] or 0)

    # df per term derived FROM tf (one row per (doc, term-with-tf>0)
    # already exists there) — no second corpus scan, and the keyed
    # count is map-side combined over query-matching docs only.
    dfs = tf.groupBy("term").agg(F.count("*").alias("df"))

    # contribution per (query, doc, term): fixed association order —
    # idf_micro * ((tf*(k1+1)) / (tf + k1*(1 - b + b*(dl/avgdl)))) —
    # mirrored exactly in the oracle; floored to int64 micro so the
    # score SUM below is integer (aggregation-order-free).  The corpus
    # stats enter as int literals (same casts, same IEEE ops as the
    # broadcast-column form they replace); dfs attaches via broadcast;
    # idf is quantized inline.
    avgdl = (
        F.lit(sum_dl).cast("long").cast("double")
        / F.lit(n_docs).cast("long").cast("double")
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    tfn = (tfd * (F.lit(k1) + F.lit(1.0))) / (
        tfd + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * (dld / avgdl))
    )
    idf_micro = micro_udf(_bm25_idf, F.lit(n_docs).cast("long"), F.col("df"))
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfs), "term")
        .select(
            "query_id",
            "doc_id",
            F.floor(idf_micro * tfn + F.lit(0.5))
            .cast("long")
            .alias("contrib_micro"),
        )
    )
    scores = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_micro").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    top = (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "score_micro",
            F.round(F.col("score_micro") / MICRO, 6).alias("score"),
        )
    )
    return top, n_docs, sum_dl


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``queries``: (query_id, query_text) — driver-tiny by contract (it is
    broadcast twice: once to prune the token stream, once to attach
    idf).  Output: (query_id, rank, doc_id, score_micro, score) — rank
    1-based by (score_micro DESC, doc_id ASC); ``score`` is
    score_micro / 1e6 for human eyes, ``score_micro`` the exact key.
    """
    top, _, _ = _bm25_topk_with_stats(
        docs, queries, doc_col, text_col, k1, b, k
    )
    return top


def best_passages(
    docs: DataFrame,
    queries: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 12,
) -> DataFrame:
    """Passage (snippet) extraction over the BM25 top-k: for each
    (query, top-document) pair, the ``window``-token span with the most
    query-term hits, earliest span winning ties — the snippet rung of
    the retrieval stack (postings → BM25 → passages).

    Scale shape: the expensive part (corpus scoring) is
    :func:`bm25_topk`; passage scanning then touches ONLY the k·|Q|
    winning documents, so the sliding-window arithmetic — pure
    higher-order Column expressions, no Python — runs on a driver-tiny
    row set attached by one keyed text join.  All window counts are
    integers; the argmax tie-break (first maximal window) is
    array_position semantics on BOTH engines.

    Output: (query_id, rank, doc_id, best_off, n_hits, snippet).
    """
    top = bm25_topk(
        docs, queries, doc_col=doc_col, text_col=text_col, k=k
    ).select("query_id", "rank", "doc_id")
    qt = queries.select(
        "query_id",
        F.array_distinct(tokens(F.col("query_text"))).alias("__qt"),
    )
    txt = docs.select(
        F.col(doc_col).alias("doc_id"), tokens(F.col(text_col)).alias("__tk")
    )
    j = top.join(F.broadcast(qt), "query_id").join(txt, "doc_id")
    n = F.size("__tk")
    nwin = F.greatest(F.lit(1), n - F.lit(window) + F.lit(1))
    counts = F.transform(
        F.sequence(F.lit(0), nwin - F.lit(1)),
        lambda i: F.aggregate(
            F.slice(F.col("__tk"), i + F.lit(1), F.lit(window)),
            F.lit(0),
            lambda acc, t: acc
            + F.when(F.array_contains(F.col("__qt"), t), 1).otherwise(0),
        ),
    )
    j = j.withColumn("__c", counts)
    best_pos = F.array_position(F.col("__c"), F.array_max("__c"))
    return j.select(
        "query_id",
        "rank",
        "doc_id",
        (best_pos - F.lit(1)).cast("int").alias("best_off"),
        F.array_max("__c").cast("int").alias("n_hits"),
        F.array_join(
            F.slice(F.col("__tk"), best_pos.cast("int"), F.lit(window)),
            " ",
        ).alias("snippet"),
    )


def prf_expansion(
    docs: DataFrame,
    queries: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k_fb: int = 5,
    m: int = 5,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio 1971 /
    Robertson's term-selection form): take each query's BM25 top-``k_fb``
    documents as assumed-relevant, score every term they contain by

        weight(t) = (Σ over feedback docs of tf(t, d)) * idf_micro(t)

    with the SAME Lucene-variant micro-quantized idf as
    :func:`bm25_topk` (one ln per term, floored to int64 immediately, so
    the weight is pure int64 and aggregation-order-free), drop the
    original query terms, and keep the top-``m`` expansion terms per
    query by ``(weight DESC, term ASC)`` — the classic second-pass
    retrieval rung (decontamination probes and topic audits re-query
    with these).

    Output: (query_id, rank, term, weight_micro).

    100-TB plan: two corpus-sized token streams, both pruned BEFORE
    their exchange by a BROADCAST semi-join — the feedback tf stream by
    the k_fb·|Q| winning doc_ids, the document-frequency stream by the
    candidate term vocabulary (terms appearing in feedback docs).  The
    corpus-wide df aggregate therefore only ever carries
    candidate-vocabulary tokens; everything downstream of the two
    aggregates is feedback-sized.  Top-m is a per-query window over
    ≤ vocabulary-of-k-docs rows.

    Broadcast bound (r5 advisor note): ``cand_terms`` is the distinct
    vocabulary of the k_fb·|Q| feedback documents — bounded by the
    feedback set's total token count, NOT by corpus size, so at the
    defaults (k_fb=5) it stays a few MB per thousand queries.  If a
    caller raises k_fb·|Q| to the point where that vocabulary nears the
    broadcast/driver budget (~10⁷ terms), replace the two
    ``F.broadcast`` prune hints with plain semi-joins — results are
    identical, the prune just moves to a keyed exchange.
    """
    # the BM25 fit already streamed the corpus once and observed its
    # exact size — reuse it instead of a separate count pass
    top_full, n_docs_v, _sum_dl = _bm25_topk_with_stats(
        docs, queries, doc_col=doc_col, text_col=text_col, k=k_fb
    )
    top = top_full.select("query_id", "doc_id")
    base = docs.where(
        F.col(text_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0)
    ).select(F.col(doc_col).alias("doc_id"), F.col(text_col).alias("__txt"))
    t = base.select("doc_id", tokens(F.col("__txt")).alias("tk"))
    exploded = t.select("doc_id", F.explode("tk").alias("term"))

    # feedback tf: prune to the k_fb·|Q| winning docs BEFORE tokenizing —
    # the broadcast semi-join moves below the tokenizer, so this pass
    # tokenizes only the feedback docs instead of the whole corpus
    # (guide §1.2: the corpus-wide tokenize+explode here was a full
    # third corpus pass whose output was immediately joined away)
    fb_tf = (
        base.join(F.broadcast(top), "doc_id")
        .select("query_id", "doc_id", tokens(F.col("__txt")).alias("tk"))
        .select("query_id", F.explode("tk").alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    qt = queries.select(
        "query_id",
        F.explode(
            F.array_distinct(tokens(F.col("query_text")))
        ).alias("term"),
    ).where(F.col("term") != "")
    cand = fb_tf.join(qt, ["query_id", "term"], "left_anti").where(
        F.col("term") != ""
    )
    cand_terms = cand.select("term").distinct()

    # corpus df restricted to candidate vocabulary (broadcast prune
    # BEFORE the distinct/agg exchange)
    cdf = (
        exploded.join(F.broadcast(cand_terms), "term")
        .select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    weighted = (
        cand.join(cdf, "term")
        .withColumn(
            "idf_micro",
            micro_udf(_bm25_idf, F.lit(n_docs_v).cast("long"), F.col("df")),
        )
        .select(
            "query_id",
            "term",
            (F.col("tf") * F.col("idf_micro"))
            .cast("bigint")
            .alias("weight_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("weight_micro").desc(), F.col("term").asc()
    )
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= m)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "term",
            "weight_micro",
        )
    )
