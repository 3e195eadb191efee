"""Retrieval queries: BM25, pseudo-relevance feedback, passages, inverted
postings and their compression, TF-IDF terms and KWIC."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from doctor_spark.queries import _JAVA_WS_CLASS, _TOKS, _docs, _present, query


@query(oracle=f"""
WITH base AS (
  SELECT doc_id AS id, source AS domain, unnest({_TOKS}) AS term
  FROM documents WHERE text IS NOT NULL
), nd AS (
  SELECT count(DISTINCT doc_id)::BIGINT AS n_docs
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT domain, term, count(*)::BIGINT AS tf FROM base GROUP BY 1, 2
), dft AS (
  SELECT term, count(*)::BIGINT AS df_docs
  FROM (SELECT DISTINCT id, term FROM base) GROUP BY 1
  HAVING count(*) >= 2
), s AS (
  SELECT tf.domain, tf.term, tf.tf, dft.df_docs,
         tf.tf::DOUBLE *
           CAST(floor(log10((SELECT n_docs FROM nd)::DOUBLE / dft.df_docs)
                      * 1e6 + 0.5) AS BIGINT)::DOUBLE AS key
  FROM tf JOIN dft USING (term)
), r AS (
  SELECT domain, term, tf, df_docs, key,
         row_number() OVER (PARTITION BY domain ORDER BY key DESC, term)
           AS rank
  FROM s
)
SELECT domain, rank::BIGINT AS rank, term, tf, df_docs,
       round(key / 1e6, 4) AS score
FROM r WHERE rank <= 10
""")
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain TF-IDF keywords (corpus-audit stage): top-10 terms per
    source by tf·idf with idf quantized to int64 micro-log10 (libm on
    both engines) and the ranking key a single IEEE multiply of exact
    int64s — bit-identical ordering on any engine.  Plan: two keyed
    aggregation exchanges (tf, doc-level df), a vocab-keyed equi-join
    (never broadcast — crawl vocab is huge), min_df tail pruning before
    the per-domain top-k window."""
    from doctor_spark.operators.tfidf import tfidf_top_terms

    return tfidf_top_terms(
        _docs(spark, sf_dir), k=10, min_df=2
    ).select(
        "domain",
        "rank",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df_docs").cast("bigint").alias("df_docs"),
        "score",
    )


def _inverted_postings_sql() -> str:
    """FULL replay of operators/postings.py on the raw text: positions
    via list_zip(tk, range), df via count(DISTINCT doc_id), positions
    string via ordered string_agg."""
    return f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, {_TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
x AS (
  SELECT doc_id, p[1] AS term, CAST(p[2] AS INT) AS pos
  FROM (
    SELECT doc_id, unnest(list_zip(tk, range(0, len(tk)))) AS p FROM t
  )
),
dfs AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM x GROUP BY 1
),
pd AS (
  SELECT term, doc_id,
         string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions
  FROM x GROUP BY 1, 2
)
SELECT pd.term, dfs.df, pd.doc_id, pd.positions
FROM pd JOIN dfs USING (term)
WHERE dfs.df <= greatest(100, (SELECT count(*) FROM t) // 20)
ORDER BY term, doc_id
"""


@query(oracle=_inverted_postings_sql())
def q_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted posting-list shard — term-keyed (term, df, doc_id,
    positions) rows over the corpus, the search-index artifact that
    backs decontamination probes and show-me-the-docs debugging.  The
    stopword problem is handled BEFORE materializing lists: df counts
    from a row-local distinct (ONE keyed count), the tiny over-cap
    term list broadcast-ANTI-joins the token stream, then ONE
    (term, doc) aggregation; position lists are bounded by document
    length, never corpus size.  The cap is corpus-proportional —
    ``max(100, n_docs DIV 20)``, i.e. "a stopword is a term in >5% of
    documents" with a small-corpus floor — so the shard stays
    non-trivial at every sf (a fixed cap empties it once every vocab
    term's df outgrows the constant).  The one driver-side ``count()``
    is metadata-scale.  The oracle replays the FULL computation
    (list_zip positions, string_agg, the same greatest() cap)."""
    from doctor_spark.operators.postings import inverted_postings

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    n_docs = d.where(F.length(F.trim(F.col("text"))) > 0).count()
    out = inverted_postings(d, df_cap=max(100, n_docs // 20))
    return _present(out.select(
        "term",
        F.col("df").cast("bigint").alias("df"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "positions",
    ), "term", "doc_id")


def _kwic_sql() -> str:
    """FULL replay of operators/concordance.py on the raw text: hit
    positions via list_zip(tk, range), 1-based clamped slices for the
    k=3 contexts, coalesce('') because DuckDB's array_to_string of an
    empty slice is NULL where Spark's array_join is ''."""
    return f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, {_TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
h AS (
  SELECT doc_id, tk, CAST(p[2] AS INT) AS pos
  FROM (
    SELECT doc_id, tk, unnest(list_zip(tk, range(0, len(tk)))) AS p
    FROM t
  )
  WHERE p[1] = 'spark'
),
o AS (
  SELECT doc_id, pos,
    coalesce(array_to_string(tk[greatest(1, pos - 2) : pos], ' '), '')
      AS left_ctx,
    coalesce(array_to_string(tk[pos + 2 : pos + 4], ' '), '')
      AS right_ctx
  FROM h
)
SELECT * FROM o ORDER BY doc_id, pos
"""


@query(oracle=_kwic_sql())
def q_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC concordance for the probe term 'spark' — keyword-in-context
    lines with 0-based token position and 3-token contexts, the
    show-me-the-term-in-context debugging view every quality rule and
    contamination probe eventually needs.  Hit positions found
    ROW-LOCALLY (explode fans out per hit, not per token); map-only,
    zero shuffles, zero Python.  The oracle replays the FULL
    computation (list_zip positions, clamped slices) on the raw
    text."""
    from doctor_spark.operators.concordance import kwic

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return _present(kwic(d, "spark", k=3), "doc_id", "pos")


# BM25 query set — terms drawn from the synthetic documents vocabulary,
# shared verbatim with the oracle's VALUES list.
_BM25_QUERIES = (
    "sort merge join",
    "window agg",
    "spark stream batch",
    "customer data table scan",
)


def _bm25_topk_sql(k: int = 10) -> str:
    """FULL replay of operators/ranking.py: tokenize, broadcast-pruned
    tf, df from tf, micro-quantized ln idf, the EXACT parenthesization
    of the tf-normalization double arithmetic ((tf*(k1+1)) / (tf + k1*
    ((1-b) + b*(dl/avgdl)))), per-term floor to int64 micro BEFORE the
    integer score sum, (score DESC, doc_id) row_number, k=10."""
    values = ", ".join(
        f"(CAST({i} AS BIGINT), '{q}')" for i, q in enumerate(_BM25_QUERIES)
    )
    return f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, {_TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
stats AS (
  SELECT count(*)::BIGINT AS n_docs, CAST(sum(len(tk)) AS BIGINT) AS sum_dl
  FROM t
),
q(query_id, qtext) AS (VALUES {values}),
qt AS (
  SELECT query_id,
         unnest(list_distinct(regexp_split_to_array(
           trim(lower(qtext)), '{_JAVA_WS_CLASS}+'))) AS term
  FROM q
),
qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
tf AS (
  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, len(tk)::BIGINT AS dl, unnest(tk) AS term FROM t) x
  WHERE term IN (SELECT DISTINCT term FROM qt2)
  GROUP BY 1, 2, 3
),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
c AS (
  SELECT qt2.query_id, tf.doc_id,
    CAST(floor(
      CAST(floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                 * 1000000 + 0.5) AS BIGINT)
      * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
         (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
           (CAST(tf.dl AS DOUBLE) /
            (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
      + 0.5) AS BIGINT) AS contrib_micro
  FROM tf JOIN qt2 USING (term) JOIN dfs USING (term), stats
),
s AS (
  SELECT query_id, doc_id, CAST(sum(contrib_micro) AS BIGINT) AS score_micro
  FROM c GROUP BY 1, 2
),
r AS (
  SELECT query_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC
         ) AS rank,
         doc_id, score_micro
  FROM s
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score_micro,
       round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS score
FROM r WHERE rank <= {k}
ORDER BY query_id, rank
"""


@query(oracle=_bm25_topk_sql())
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval over the corpus (Lucene's
    non-negative idf variant) — the scoring stage on top of the
    inverted-index artifact: four constant queries against every
    document, top-10 each.  The corpus-sized token stream is pruned by
    a BROADCAST semi-join against the query vocabulary BEFORE the one
    real shuffle (the (doc, term) tf aggregation,
    pinned so the df count reuses it instead of re-exploding the
    corpus); idf is micro-quantized int64 immediately after the only
    ``ln``, and per-term contributions floor to int64 micro BEFORE the
    score sum, so aggregation order cannot move the result.  The
    oracle replays the FULL computation — tokenize, tf, df, the exact
    parenthesization of the tf-normalization double arithmetic, floor/
    micro discipline, (score DESC, doc_id) row_number — in DuckDB."""
    from doctor_spark.operators.ranking import bm25_topk

    queries = spark.createDataFrame(
        list(enumerate(_BM25_QUERIES)), "query_id long, query_text string"
    )
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return _present(bm25_topk(d, queries, k=10), "query_id", "rank")


def _best_passages_sql(k: int = 5, window: int = 12) -> str:
    """The BM25 replay (top-k) as a subquery, then the EXACT sliding-
    window replay: per-offset hit counts via list_sum over 1-based
    clamped slices, argmax via list_position (first maximal window —
    Spark's array_position semantics), snippet via the same slice."""
    values = ", ".join(
        f"(CAST({i} AS BIGINT), '{q}')" for i, q in enumerate(_BM25_QUERIES)
    )
    return f"""
WITH top AS ({_bm25_topk_sql(k)}),
q(query_id, qtext) AS (VALUES {values}),
qt AS (
  SELECT query_id,
         list_distinct(regexp_split_to_array(
           trim(lower(qtext)), '{_JAVA_WS_CLASS}+')) AS qt
  FROM q
),
t AS (
  SELECT doc_id::BIGINT AS doc_id, {_TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
j AS (
  SELECT top.query_id, top.rank, top.doc_id, qt.qt, t.tk,
         greatest(1, len(t.tk) - {window} + 1) AS nwin
  FROM top JOIN qt USING (query_id) JOIN t USING (doc_id)
),
c AS (
  SELECT query_id, rank, doc_id, tk,
         list_transform(range(0, nwin), i ->
           list_sum(list_transform(tk[i + 1:i + {window}], t2 ->
             CASE WHEN list_contains(qt, t2) THEN 1 ELSE 0 END))) AS cnts
  FROM j
)
SELECT query_id, rank, doc_id,
       CAST(list_position(cnts, list_max(cnts)) - 1 AS INT) AS best_off,
       CAST(list_max(cnts) AS INT) AS n_hits,
       array_to_string(
         tk[list_position(cnts, list_max(cnts))
            :list_position(cnts, list_max(cnts)) + {window} - 1], ' ')
         AS snippet
FROM c ORDER BY query_id, rank
"""


@query(oracle=_best_passages_sql())
def q_best_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage/snippet extraction over the BM25 top-5: the densest
    12-token window of query-term hits per winning document, earliest
    window on ties — the snippet rung of the retrieval stack (postings
    -> BM25 -> passages).  Corpus cost is bm25_topk's; the sliding-
    window arithmetic (pure integer higher-order Column exprs, zero
    Python) touches only the k-times-|Q| winners attached by one keyed
    text join.  Oracle: the BM25 replay as a subquery + the same list
    arithmetic (list_sum over clamped slices, list_position argmax)."""
    from doctor_spark.operators.ranking import best_passages

    queries = spark.createDataFrame(
        list(enumerate(_BM25_QUERIES)), "query_id long, query_text string"
    )
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return _present(
        best_passages(d, queries, k=5, window=12), "query_id", "rank"
    )


def _postings_compression_sql() -> str:
    """VByte accounting oracle: per-doc distinct terms, lag-window
    gaps (first = doc_id + 1), the identical started-7-bit-group CASE
    sum, int64-micro ratio."""
    return f"""
WITH pres AS (
  SELECT doc_id::BIGINT AS doc_id, unnest(list_distinct({_TOKS})) AS term
  FROM documents WHERE length(trim(text)) > 0
), gaps AS (
  SELECT term,
         coalesce(doc_id - lag(doc_id) OVER (
           PARTITION BY term ORDER BY doc_id), doc_id + 1) AS gap
  FROM pres
), v AS (
  SELECT term,
         1 + (gap >= 128)::BIGINT + (gap >= 16384)::BIGINT
           + (gap >= 2097152)::BIGINT + (gap >= 268435456)::BIGINT AS vlen
  FROM gaps
)
SELECT term, count(*)::BIGINT AS df, sum(vlen)::BIGINT AS vbyte_bytes,
       (count(*) * 8)::BIGINT AS fixed_bytes,
       ((sum(vlen) * 1000000) // (count(*) * 8))::BIGINT AS ratio_micro
FROM v GROUP BY term
"""


@query(oracle=_postings_compression_sql())
def q_postings_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index storage accounting: per-term VByte posting-list size from
    delta-encoded doc ids (first gap = doc_id+1, then diffs; 1 byte per
    started 7-bit group) vs the 8-byte fixed baseline, ratio in int64
    micro.  One exchange on term feeds both the lag window and the
    per-term aggregate.  Oracle: identical lag/CASE arithmetic."""
    from doctor_spark.operators.postings import postings_compression

    return postings_compression(_docs(spark, sf_dir)).select(
        "term", "df", "vbyte_bytes", "fixed_bytes", "ratio_micro",
    )


def _prf_sql(k_fb: int = 5, m: int = 5) -> str:
    """PRF expansion oracle: the BM25 replay (top-k_fb) as a subquery,
    feedback-doc tf, query-term anti-join, corpus df restricted to the
    candidate vocabulary, weight = tf * micro-idf (identical integer
    quantization), (weight DESC, term ASC) row_number, m per query."""
    return f"""
WITH top AS ({_bm25_topk_sql(k_fb)}),
t AS (
  SELECT doc_id::BIGINT AS doc_id, {_TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
stats AS (SELECT count(*)::BIGINT AS n_docs FROM t),
x AS (SELECT doc_id, unnest(tk) AS term FROM t),
fb AS (SELECT query_id, doc_id FROM top),
fb_tf AS (
  SELECT fb.query_id, x.term, count(*)::BIGINT AS tf
  FROM fb JOIN x USING (doc_id)
  GROUP BY 1, 2
),
q(query_id, qtext) AS (VALUES {", ".join(
    f"(CAST({i} AS BIGINT), '{q}')" for i, q in enumerate(_BM25_QUERIES)
)}),
qt2 AS (
  SELECT query_id, term FROM (
    SELECT query_id,
           unnest(list_distinct(regexp_split_to_array(
             trim(lower(qtext)), '{_JAVA_WS_CLASS}+'))) AS term
    FROM q
  ) WHERE term <> ''
),
cand AS (
  SELECT fb_tf.query_id, fb_tf.term, fb_tf.tf FROM fb_tf
  LEFT JOIN qt2 ON fb_tf.query_id = qt2.query_id
              AND fb_tf.term = qt2.term
  WHERE qt2.term IS NULL AND fb_tf.term <> ''
),
cdf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM x WHERE term IN (SELECT DISTINCT term FROM cand)
  GROUP BY 1
),
wgt AS (
  SELECT query_id, cand.term,
         (cand.tf * CAST(floor(
            ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
               / (CAST(df AS DOUBLE) + 0.5) + 1.0) * 1000000 + 0.5
          ) AS BIGINT))::BIGINT AS weight_micro
  FROM cand JOIN cdf USING (term), stats
),
rw AS (
  SELECT query_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY weight_micro DESC, term ASC
         ) AS rank,
         term, weight_micro
  FROM wgt
)
SELECT query_id, CAST(rank AS INT) AS rank, term, weight_micro
FROM rw WHERE rank <= {m}
"""


@query(oracle=_prf_sql())
def q_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback expansion (Rocchio/Robertson term
    selection): BM25 top-5 docs per query as assumed-relevant, candidate
    terms scored sum-tf × micro-idf (int64, order-free), query terms
    excluded, top-5 per query by (weight DESC, term ASC).  Both
    corpus-sized token streams broadcast-pruned before their exchanges
    (winning doc_ids / candidate vocabulary).  Oracle: the BM25 replay's
    CTEs + identical integer weight arithmetic."""
    from doctor_spark.operators.ranking import prf_expansion

    queries = spark.createDataFrame(
        list(enumerate(_BM25_QUERIES)), "query_id long, query_text string"
    )
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return prf_expansion(d, queries, k_fb=5, m=5)
