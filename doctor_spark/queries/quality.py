"""Quality queries: Gopher, repetition and hashed-linear gates, the CCNet
LM gate, PII scrubbing, jusText main content, the C4 recipe, character
entropy and coverage, Unicode cleanup, readability and host rollups."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

# stopwords and the unicode-clean character sets come from their single
# source of truth so the Spark side and the oracle can never drift; the
# sets are rendered as RE2 \x{...} classes so no raw control bytes appear
# in the oracle SQL text
from doctor_spark.functions.text import (
    LANG_STOPWORDS as _LANG_STOPWORDS, UC_CONTROLS as _UC_CONTROLS,
    UC_SPACE_LIKE as _UC_SPACE_LIKE, UC_ZERO_WIDTH as _UC_ZERO_WIDTH,
)
# stupid-backoff penalty literal, generated by the quantizer the LM
# module uses so the Spark side and the oracle can never drift
from doctor_spark.micro import micro
from doctor_spark.queries import (
    _JAVA_WS_CLASS, _TOKS, _docs, _docs_spread, _present, query,
)
from doctor_spark.queries.text import _STOPS


def _quality_sql() -> str:
    punct = r"""round(CASE WHEN length(text) = 0 THEN 0.0
      ELSE (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]-]', '', 'g')))::DOUBLE / length(text) END, 4)"""
    n_tok = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END"
    stop_hits = f"len(list_filter({_TOKS}, tk -> tk IN {_STOPS['en']}))"
    stop_ratio = f"""round(CASE WHEN len({_TOKS}) = 0 THEN 0.0
      ELSE {stop_hits}::DOUBLE / len({_TOKS}) END, 4)"""
    mean_wl = f"""round(CASE WHEN len({_TOKS}) = 0 THEN 0.0
      ELSE list_sum(list_transform({_TOKS}, tk -> length(tk)))::DOUBLE / len({_TOKS}) END, 4)"""
    quality = f"""round((least(({n_tok}) / 50.0, 1.0)
      + greatest(0.0, 1.0 - ({punct}) * 5)
      + least(({stop_ratio}) * 4, 1.0)) / 3, 4)"""
    return f"""
SELECT doc_id::BIGINT AS doc_id,
       ({n_tok})::BIGINT AS n_tokens,
       ({punct})::DOUBLE AS punct_ratio,
       ({stop_ratio})::DOUBLE AS stopword_ratio,
       ({mean_wl})::DOUBLE AS mean_word_len,
       ({quality})::DOUBLE AS quality_score
FROM documents
"""


@query(oracle=_quality_sql())
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doctor_spark.functions.text import (
        mean_word_len,
        punct_ratio,
        quality_score,
        stopword_ratio,
        token_count,
    )

    t = F.col("text")
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        token_count(t).cast("bigint").alias("n_tokens"),
        punct_ratio(t).cast("double").alias("punct_ratio"),
        stopword_ratio(t).cast("double").alias("stopword_ratio"),
        mean_word_len(t).cast("double").alias("mean_word_len"),
        quality_score(t).cast("double").alias("quality_score"),
    )


def _gopher_sql() -> str:
    n_tok = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END"
    mean_wl = f"""round(CASE WHEN len({_TOKS}) = 0 THEN 0.0
      ELSE list_sum(list_transform({_TOKS}, tk -> length(tk)))::DOUBLE / len({_TOKS}) END, 4)"""
    n_sym = (
        "((length(text) - length(replace(text, '#', '')))"
        " + (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3"
        " + (length(text) - length(replace(text, '…', ''))))"
    )
    symbol = f"""round(CASE WHEN ({n_tok}) = 0 THEN 0.0
      ELSE ({n_sym})::DOUBLE / ({n_tok}) END, 4)"""
    lines = "str_split(text, chr(10))"
    bullets = (
        f"len(list_filter({lines}, ln -> starts_with(trim(ln), '•')"
        " OR starts_with(trim(ln), '-') OR starts_with(trim(ln), '*')))"
    )
    bullet = f"""round(CASE WHEN len({lines}) = 0 THEN 0.0
      ELSE ({bullets})::DOUBLE / len({lines}) END, 4)"""
    ells = (
        f"len(list_filter({lines}, ln -> ends_with(rtrim(ln), '...')"
        " OR ends_with(rtrim(ln), '…')))"
    )
    ellipsis = f"""round(CASE WHEN len({lines}) = 0 THEN 0.0
      ELSE ({ells})::DOUBLE / len({lines}) END, 4)"""
    ne_lines = f"list_filter({lines}, ln -> length(trim(ln)) > 0)"
    dup = f"""round(CASE WHEN len({ne_lines}) = 0 THEN 0.0
      ELSE 1.0 - len(list_distinct({ne_lines}))::DOUBLE / len({ne_lines}) END, 4)"""
    n_alpha = f"len(list_filter({_TOKS}, tk -> regexp_matches(tk, '[a-z]')))"
    alpha = f"""round(CASE WHEN ({n_tok}) = 0 THEN 0.0
      ELSE ({n_alpha})::DOUBLE / ({n_tok}) END, 4)"""
    stop_hits = f"len(list_filter({_TOKS}, tk -> tk IN {_STOPS['en']}))"
    passes = f"""(({n_tok}) BETWEEN 50 AND 100000
      AND ({mean_wl}) BETWEEN 3.0 AND 10.0
      AND ({symbol}) <= 0.1 AND ({bullet}) <= 0.9
      AND ({ellipsis}) <= 0.3 AND ({alpha}) >= 0.8
      AND ({stop_hits}) >= 2 AND ({dup}) <= 0.3)"""
    return f"""
SELECT doc_id::BIGINT AS doc_id,
       ({n_tok})::BIGINT AS n_words,
       ({mean_wl})::DOUBLE AS mean_word_len,
       ({symbol})::DOUBLE AS symbol_ratio,
       ({bullet})::DOUBLE AS bullet_ratio,
       ({ellipsis})::DOUBLE AS ellipsis_ratio,
       ({alpha})::DOUBLE AS alpha_ratio,
       ({dup})::DOUBLE AS dup_line_frac,
       ({passes})::BOOLEAN AS passes
FROM documents
"""


@query(oracle=_gopher_sql())
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021 §A1.1) — the standard
    LLM-corpus web-text gate.  Computed by ONE Arrow struct kernel per row
    (doctor_spark/functions/text.py:gopher_metrics_udf); the pure Column
    expressions remain as the semantic contract and are differential-tested
    bit-identical (tests/test_text_functions.py).  The interpreted
    higher-order forms re-tokenized each row ~8× (round-2 perf-weak item);
    the hoist makes the plan a single ArrowEvalPython node."""
    from doctor_spark.functions.text import gopher_metrics_udf

    k = gopher_metrics_udf()
    return (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                k(F.col("text")).alias("g"))
        .select("doc_id", "g.*")
    )


@query(oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS bg
  FROM toks WHERE len(tk) >= 2
), counts AS (
  SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg
)
SELECT doc_id::BIGINT AS doc_id,
       sum(n)::BIGINT AS n_bigrams,
       round(max(n)::DOUBLE / sum(n), 4)::DOUBLE AS top_bigram_frac
FROM counts GROUP BY doc_id
""")
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition gate (Gopher's other axis): per document, the occurrence
    fraction of the most frequent token bigram.  Keyed shuffles only —
    explode → hash-agg on (doc, bigram) → per-doc max."""
    from doctor_spark.functions.text import tokens

    t = F.col("text")
    toks = tokens(t)
    bigrams = F.when(F.size(toks) < 2, F.array()).otherwise(
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id"), F.explode(bigrams).alias("bg")
    )
    counts = d.groupBy("doc_id", "bg").agg(F.count("*").alias("n"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("n").alias("total"), F.max("n").alias("top")
    )
    return per_doc.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("total").cast("bigint").alias("n_bigrams"),
        F.round(F.col("top") / F.col("total"), 4)
        .cast("double")
        .alias("top_bigram_frac"),
    )


@query(oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS tk, length(trim(text)) AS tl
  FROM documents WHERE text IS NOT NULL
), t AS (
  SELECT doc_id, unnest(tk) AS tok FROM toks
), w AS (
  SELECT doc_id,
         (('0x' || substr(md5('w' ||
             ((('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 + 1024)
              % 1024)::VARCHAR), 1, 15))::BIGINT % 2001 + 2001) % 2001
           - 1000 AS wt
  FROM t
), s AS (
  SELECT doc_id, sum(wt) AS raw_score FROM w GROUP BY doc_id
)
SELECT k.doc_id::BIGINT AS doc_id,
       (CASE WHEN k.tl = 0 THEN 0 ELSE len(k.tk) END)::BIGINT AS n_tokens,
       (CASE WHEN k.tl = 0 THEN 0 ELSE s.raw_score END)::BIGINT AS score,
       (CASE WHEN k.tl = 0 THEN 0 ELSE s.raw_score END) > 0 AS keep
FROM toks k JOIN s USING (doc_id)
""")
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-linear quality scoring (the CCNet/GPT-3
    filter stage): Σ W[md5(token) mod 1024] as a JVM aggregate over the
    token array — zero shuffles, zero Python; the weight table is a
    deterministic md5-derived stand-in (docstring in functions/text.py
    documents the real-model swap, which keeps the identical plan)."""
    from doctor_spark.functions.text import quality_classifier

    return (
        _docs_spread(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            quality_classifier(F.col("text")).alias("q"),
        )
        .select("doc_id", "q.*")
    )


_LM_ALPHA_MICRO = micro(math.log10(0.4))


@query(oracle=f"""
-- CCNet LM gate oracle: train stupid-backoff trigram counts on the
-- md5-band ref half (salt 'lm', rate 0.5), score every doc in int64
-- micro-log10 units, bucket per-lang terciles.  All arithmetic mirrors
-- operators/lm.py exactly: 60-bit md5 gram keys, floor(x*1e6+0.5)
-- quantization, alpha literal {_LM_ALPHA_MICRO} from the same Python
-- source of truth.
WITH tk AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(lower(text)), '{_JAVA_WS_CLASS}+') AS t
  FROM documents WHERE text IS NOT NULL
), ref AS (
  SELECT t FROM tk
  WHERE substring(md5('lm' || doc_id::VARCHAR), 1, 4)
        < printf('%04x', 32768)
), refg AS (
  SELECT e.ord AS ord, e.g AS g, e.ctx AS ctx FROM (
    SELECT unnest(flatten(list_transform(range(1, len(t) + 1), p ->
      list_transform(range(1, least(p, 3) + 1), m ->
        {{'ord': m,
         'g': array_to_string(list_slice(t, p - m + 1, p), ' '),
         'ctx': array_to_string(list_slice(t, p - m + 1, p - 1), ' ')
        }})))) AS e
    FROM ref
  )
), cnt AS (
  SELECT ord, g, ctx, count(*) AS c FROM refg GROUP BY 1, 2, 3
), ntot AS (
  SELECT sum(c)::BIGINT AS n FROM cnt WHERE ord = 1
), model AS (
  SELECT ord, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh,
         CAST(floor(log10(c::DOUBLE / den) * 1e6 + 0.5) AS BIGINT) AS lp
  FROM (
    SELECT c1.ord, c1.g, c1.c,
           CASE WHEN c1.ord = 1 THEN (SELECT n FROM ntot)
                ELSE c2.c END AS den
    FROM cnt c1 LEFT JOIN cnt c2
      ON c2.ord = c1.ord - 1 AND c2.g = c1.ctx
    WHERE c1.ord = 1 OR c2.g IS NOT NULL
  ) WHERE c >= 2
), unk AS (
  SELECT CAST(floor(log10(1.0 / greatest(n, 1)) * 1e6 + 0.5) AS BIGINT)
         AS u FROM ntot
), cand AS (
  SELECT doc_id, lang, e.pos AS pos, e.ord AS ord,
         ('0x' || substr(md5(e.g), 1, 15))::BIGINT AS gh
  FROM (
    SELECT doc_id, lang,
      unnest(flatten(list_transform(range(1, len(t) + 1), p ->
        list_transform(range(1, least(p, 3) + 1), m ->
          {{'pos': p - 1, 'ord': m,
           'g': array_to_string(list_slice(t, p - m + 1, p), ' ')
          }})))) AS e
    FROM tk
  )
), pos AS (
  SELECT c.doc_id, c.lang, c.pos, least(c.pos + 1, 3) AS att,
         max(CASE WHEN m.ord = 3 THEN m.lp END) AS lp3,
         max(CASE WHEN m.ord = 2 THEN m.lp END) AS lp2,
         max(CASE WHEN m.ord = 1 THEN m.lp END) AS lp1
  FROM cand c LEFT JOIN model m ON m.ord = c.ord AND m.gh = c.gh
  GROUP BY 1, 2, 3, 4
), ps AS (
  SELECT doc_id, lang,
    CASE WHEN lp3 IS NOT NULL THEN lp3 + (att - 3) * ({_LM_ALPHA_MICRO})
         WHEN lp2 IS NOT NULL THEN lp2 + (att - 2) * ({_LM_ALPHA_MICRO})
         WHEN lp1 IS NOT NULL THEN lp1 + (att - 1) * ({_LM_ALPHA_MICRO})
         ELSE (SELECT u FROM unk) + (att - 1) * ({_LM_ALPHA_MICRO})
    END AS lp
  FROM pos
), agg AS (
  SELECT doc_id, lang, count(*)::BIGINT AS n_tok,
         sum(lp)::BIGINT AS sum_lp_micro
  FROM ps GROUP BY 1, 2
)
SELECT doc_id::BIGINT AS doc_id, lang, n_tok, sum_lp_micro,
       round(sum_lp_micro / (n_tok::DOUBLE * 1e6), 4) AS score,
       CASE ntile(3) OVER (PARTITION BY lang
              ORDER BY sum_lp_micro / (n_tok::DOUBLE * 1e6) DESC, doc_id)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM agg
""")
def q_ccnet_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality gate (Wenzek et al. 2019): train a
    stupid-backoff trigram LM on a deterministic hash-band half of the
    corpus (the "Wikipedia" stand-in), score EVERY document's average
    log10-probability per token, and bucket head/middle/tail by
    per-language terciles — the filter stage CCNet/RedPajama/FineWeb
    pipelines run between dedup and mixing.

    Engine-exactness: all log-probs are quantized once to int64
    micro-log10 (floor(log10·1e6 + 0.5)) so every sum is associative and
    the DuckDB oracle replays the arithmetic bit-for-bit; log10 itself
    is libm on both sides (numpy kernel / DuckDB), never Java's.

    Plan: training is ONE (ord, gram-hash) count exchange + per-order
    denominator equi-joins; scoring is a map-only candidate expansion
    with THREE BROADCAST joins (the pruned model is the thing KenLM
    ships to every node) + one groupBy(doc) exchange + one per-lang
    window exchange.  ``broadcast_model=False`` documented for models
    beyond executor memory."""
    from doctor_spark.operators.lm import (
        perplexity_buckets,
        score_perplexity,
        train_ngram_lm,
    )
    from doctor_spark.operators.sampling import hash_sample

    d = _docs_spread(spark, sf_dir)
    ref = hash_sample(d, key_col="doc_id", rate=0.5, salt="lm")
    model, n_tokens = train_ngram_lm(ref, order=3, min_count=2)
    scores = score_perplexity(
        d, model, n_tokens, order=3, alpha=0.4, keep_cols=("lang",)
    )
    return perplexity_buckets(scores).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "lang",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        "sum_lp_micro",
        "score",
        "bucket",
    )


def _repetition_gopher_sql() -> str:
    """Exact mirror of functions/text.py:repetition_metrics_row: top
    {2,3,4}-gram and duplicate {5..10}-gram character-coverage fractions
    over the Java-\\s tokens; chars(gram) is the space-joined length;
    NULL text → NULL row, missing n (too-short doc) → 0.0."""
    top_t = {2: 0.20, 3: 0.18, 4: 0.16}
    dup_t = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
    values = ",".join(f"({n})" for n in (*top_t, *dup_t))
    top_cols = ",\n         ".join(
        f"CASE WHEN b.text IS NULL THEN NULL ELSE "
        f"coalesce(max(CASE WHEN p.n = {n} THEN p.top_frac END), 0.0) END "
        f"AS top{n}_frac"
        for n in top_t
    )
    dup_cols = ",\n         ".join(
        f"CASE WHEN b.text IS NULL THEN NULL ELSE "
        f"coalesce(max(CASE WHEN p.n = {n} THEN p.dup_frac END), 0.0) END "
        f"AS dup{n}_frac"
        for n in dup_t
    )
    gates = " AND ".join(
        [f"top{n}_frac <= {t}" for n, t in top_t.items()]
        + [f"dup{n}_frac <= {t}" for n, t in dup_t.items()]
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n_chars, {_TOKS} AS tk FROM documents
), grams AS (
  SELECT doc_id, n_chars, t.n AS n,
         unnest(list_transform(range(1, len(tk) - t.n + 2),
                i -> array_to_string(tk[i:i + t.n - 1], ' '))) AS g
  FROM base, (VALUES {values}) t(n)
  WHERE len(tk) >= t.n AND n_chars > 0
), counts AS (
  SELECT doc_id, n_chars, n, g, count(*) AS c
  FROM grams GROUP BY doc_id, n_chars, n, g
), per_n AS (
  SELECT doc_id, n,
         round(max(c * length(g))::DOUBLE / n_chars, 4) AS top_frac,
         round(coalesce(sum(CASE WHEN c >= 2 THEN c * length(g) END), 0)::DOUBLE
               / n_chars, 4) AS dup_frac
  FROM counts GROUP BY doc_id, n, n_chars
), piv AS (
  SELECT b.doc_id, b.text,
         {top_cols},
         {dup_cols}
  FROM base b LEFT JOIN per_n p ON b.doc_id = p.doc_id
  GROUP BY b.doc_id, b.text
)
SELECT doc_id::BIGINT AS doc_id,
       top2_frac::DOUBLE AS top2_frac, top3_frac::DOUBLE AS top3_frac,
       top4_frac::DOUBLE AS top4_frac, dup5_frac::DOUBLE AS dup5_frac,
       dup6_frac::DOUBLE AS dup6_frac, dup7_frac::DOUBLE AS dup7_frac,
       dup8_frac::DOUBLE AS dup8_frac, dup9_frac::DOUBLE AS dup9_frac,
       dup10_frac::DOUBLE AS dup10_frac,
       (CASE WHEN text IS NULL THEN NULL ELSE ({gates}) END)::BOOLEAN AS passes
FROM piv
"""


@query(oracle=_repetition_gopher_sql())
def q_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher repetition family (Rae et al. 2021 §A1.1): top
    {2,3,4}-gram and duplicate {5..10}-gram character fractions + the
    composite gate.  One Arrow struct kernel per row — n-gram counting is
    document-local, so the plan has zero shuffles (scan → ArrowEvalPython
    → project), embarrassingly parallel at any corpus size."""
    from doctor_spark.functions.text import repetition_metrics_udf

    k = repetition_metrics_udf()
    return (
        _docs_spread(spark, sf_dir)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                k(F.col("text")).alias("r"))
        .select("doc_id", "r.*")
    )


@query(oracle=r"""
WITH aug AS (
  SELECT doc_id,
         text || ' Contact user' || doc_id::VARCHAR || '@example.com or 555-010-'
              || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              || (CASE WHEN doc_id % 3 = 0
                       THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                       ELSE '' END)
              || (CASE WHEN doc_id % 5 = 0
                       THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.7'
                       ELSE '' END) AS text
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id::BIGINT AS doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text,
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::BIGINT AS n_phones,
       len(regexp_extract_all(text,
           '\b\d{3}-\d{2}-\d{4}\b'))::BIGINT AS n_ssns,
       len(regexp_extract_all(text,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))
         AS scrubbed_hash
FROM aug
""")
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/phones/SSNs/IPv4 → typed placeholders) — the
    standard pre-training scrub, as whole-stage-codegen'd Column exprs
    (zero shuffles, zero Python).  The synthetic documents carry no PII,
    so the query plants deterministic PII derived from doc_id (mirrored
    exactly in the oracle), then scrubs it."""
    from doctor_spark.functions.text import pii_counts, scrub_pii

    d = _docs_spread(spark, sf_dir).where(F.col("text").isNotNull())
    planted = F.concat(
        F.col("text"),
        F.lit(" Contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" ssn 123-45-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" from 10.0."),
                     (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
    )
    aug = d.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                   planted.alias("text"))
    counts = pii_counts(F.col("text"))
    return aug.select(
        "doc_id",
        counts["email"].cast("bigint").alias("n_emails"),
        counts["phone"].cast("bigint").alias("n_phones"),
        counts["ssn"].cast("bigint").alias("n_ssns"),
        counts["ip"].cast("bigint").alias("n_ips"),
        F.md5(scrub_pii(F.col("text")).cast("binary")).alias("scrubbed_hash"),
    )


def _host_quality_sql() -> str:
    """Gopher CTE + host synthesis + the integer host verdict."""
    return f"""
WITH g AS ({_gopher_sql()}),
d AS (
  SELECT g.doc_id,
         CASE WHEN g.doc_id % 25 = 0
              THEN 't' || CAST(g.doc_id AS VARCHAR(20)) || '.example'
              ELSE 'h' || CAST(g.doc_id % 7 AS VARCHAR(2)) || '.example'
         END AS host,
         g.passes
  FROM g JOIN documents USING (doc_id)
  WHERE documents.text IS NOT NULL
),
h AS (
  SELECT host, count(*) AS n_docs,
         sum(CASE WHEN passes THEN 0 ELSE 1 END) AS n_fail
  FROM d GROUP BY host
)
SELECT d.doc_id::BIGINT AS doc_id, d.host, d.passes,
       (h.n_docs < 5 OR h.n_fail * 100 <= h.n_docs * 50)::BOOLEAN
         AS host_ok
FROM d JOIN h ON d.host = h.host
ORDER BY doc_id
"""


@query(oracle=_host_quality_sql())
def q_host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level quality rollup gate (RefinedWeb-style site curation,
    content-informed): per-document Gopher verdicts rolled up per host
    — ONE map-side-combined keyed agg — then the integer-fraction host
    verdict (``n_fail*100 <= n_docs*50``, small hosts ``< 5`` docs
    admitted on benefit of the doubt) joined back to every document
    (keyed join, NOT broadcast: a real crawl's host dimension is
    10^8+ rows; AQE splits mega-host skew).  Synthesis: seven head
    hosts (``doc_id % 7``) whose fail fractions differ by text arm,
    plus single-document tail hosts every 25th doc exercising the
    min-docs rule.  The oracle replays the Gopher CTE + the same
    integer arithmetic."""
    from doctor_spark.operators.hostgate import host_quality_gate

    d = _docs_spread(spark, sf_dir).where(F.col("text").isNotNull())
    host = F.when(
        F.col("doc_id") % 25 == 0,
        F.concat(F.lit("t"), F.col("doc_id").cast("string"),
                 F.lit(".example")),
    ).otherwise(
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example"))
    )
    docs = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        host.alias("host"),
        "text",
    )
    out = host_quality_gate(docs, min_docs=5, max_fail_pct=50)
    return _present(out.select("doc_id", "host", "passes", "host_ok"), "doc_id")


def _readability_sql() -> str:
    """FULL replay of functions/text.py readability_metrics on the raw
    text: vowel-group syllables, terminal-run sentences, one terminal
    round — identical IEEE double ops in both engines."""
    w = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END"
    s = ("CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
         "greatest(1, len(regexp_extract_all(text, '[.!?]+'))) END")
    y = (f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
         f"list_sum(list_transform({_TOKS}, tk -> "
         f"greatest(1, len(regexp_extract_all(tk, '[aeiouy]+'))))) END")
    return f"""
WITH m AS (
  SELECT doc_id::BIGINT AS doc_id,
         ({w})::DOUBLE AS w, ({s})::DOUBLE AS s, ({y})::DOUBLE AS y
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       w::BIGINT AS n_words, s::BIGINT AS n_sentences,
       y::BIGINT AS n_syllables,
       CASE WHEN w = 0 THEN NULL
            ELSE round(0.39::DOUBLE * (w / s) + 11.8::DOUBLE * (y / w)
                       - 15.59::DOUBLE, 4) END AS fk_grade,
       CASE WHEN w = 0 THEN NULL
            ELSE round(206.835::DOUBLE - 1.015::DOUBLE * (w / s)
                       - 84.6::DOUBLE * (y / w), 4) END AS flesch_ease
FROM m ORDER BY doc_id
"""


@query(oracle=_readability_sql())
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch–Kincaid / Flesch reading-ease over the corpus — the
    audience-level signal education-filtered corpora bucket on.  Both
    sub-measures are spec'd SQL-replayable simplifications
    (functions/text.py: vowel-group syllables, terminal-run
    sentences), so the oracle replays the FULL computation on the raw
    document text — not a synthesis-arm replay.  Pure Column exprs,
    map-only, zero Python, zero shuffles."""
    from doctor_spark.functions.text import readability_metrics

    d = _docs_spread(spark, sf_dir).where(F.col("text").isNotNull())
    m = readability_metrics(F.col("text"))
    return _present(d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        m["n_words"].alias("n_words"),
        m["n_sentences"].alias("n_sentences"),
        m["n_syllables"].alias("n_syllables"),
        m["fk_grade"].alias("fk_grade"),
        m["flesch_ease"].alias("flesch_ease"),
    ), "doc_id")


def _char_coverage_sql() -> str:
    """FULL replay of operators/charcov.py on the raw text: per-char
    counts via split(text, ''), (count desc, ch asc) rank, running
    sum, integer-DIV micro coverage."""
    return r"""
WITH t AS (SELECT text FROM documents WHERE text IS NOT NULL),
x AS (SELECT unnest(split(text, '')) AS ch FROM t),
pc AS (SELECT ch, count(*)::BIGINT AS n FROM x GROUP BY 1),
r AS (
  SELECT ch, n,
         row_number() OVER (ORDER BY n DESC, ch ASC)::BIGINT AS rank,
         sum(n) OVER (ORDER BY n DESC, ch ASC
                      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         sum(n) OVER ()::BIGINT AS tot
  FROM pc
)
SELECT ch, n, rank, CAST((cum * 1000000) // tot AS BIGINT) AS cum_micro
FROM r ORDER BY rank
"""


@query(oracle=_char_coverage_sql())
def q_char_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-coverage table — SentencePiece's character_coverage
    input: corpus character counts ranked with cumulative micro
    coverage.  The Arrow kernel emits PER-DOCUMENT histograms so the
    explode fans out per distinct character per doc (alphabet-bounded,
    never text-length-bounded); ONE map-side-combined keyed sum; the
    rank/cumulative window runs over the alphabet-sized aggregate.
    The oracle replays the full computation (char split, counts,
    row_number, running sum, integer DIV) on the raw text."""
    from doctor_spark.operators.charcov import char_coverage

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return _present(char_coverage(d), "rank")


def _re2_class(chars: str) -> str:
    return "[" + "".join(f"\\x{{{ord(c):x}}}" for c in chars) + "]"


_UC_SP_CLS = _re2_class(_UC_SPACE_LIKE)


_UC_ZW_CLS = _re2_class(_UC_ZERO_WIDTH)


_UC_CTL_CLS = _re2_class(_UC_CONTROLS)


# unicode-clean: full replay on the same dirty synthesis —
# nfc_normalize (utf8proc) vs Python unicodedata checked on
# every row's TEXT, sets replayed as RE2 classes
@query(oracle=f"""
WITH dirty AS (
  SELECT doc_id::BIGINT AS doc_id,
         CASE CAST(doc_id % 6 AS INT)
           WHEN 0 THEN 'Cafe\u0301\u200b ' || text
           WHEN 1 THEN 'A\u00a0B\u3000C ' || text
           WHEN 2 THEN 'X\u0001Y\u007f\u0085Z ' || text
           WHEN 3 THEN '\ufb01\u00adle ' || text
           WHEN 4 THEN '\u1100\u1161 ' || text
           ELSE text END AS t0
  FROM documents WHERE text IS NOT NULL
), nfc AS (
  SELECT doc_id, t0, nfc_normalize(t0) AS t1 FROM dirty
), cl AS (
  SELECT doc_id, t0, t1,
         regexp_replace(regexp_replace(regexp_replace(t1,
             '{_UC_SP_CLS}', ' ', 'g'), '{_UC_ZW_CLS}', '', 'g'),
             '{_UC_CTL_CLS}', '', 'g') AS clean
  FROM nfc
)
SELECT doc_id, clean,
  (length(t1) - length(regexp_replace(t1, '{_UC_SP_CLS}', '', 'g')))::INT
      AS n_space_mapped,
  (length(t1) - length(regexp_replace(t1, '{_UC_ZW_CLS}', '', 'g')))::INT
      AS n_zero_width,
  (length(t1) - length(regexp_replace(t1, '{_UC_CTL_CLS}', '', 'g')))::INT
      AS n_controls,
  (clean <> t0) AS changed
FROM cl ORDER BY doc_id
""")
def q_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization cleanup (the ftfy/NFC rung of a C4/Dolma
    cleaning recipe): NFC composition + explicit space-like /
    zero-width / control sets (functions/text.py module constants —
    the oracle replays the same sets as RE2 classes).  Map-only Arrow
    kernel, zero shuffles.  The cleaned TEXT is hash-compared, so
    Python's unicodedata NFC and DuckDB's utf8proc NFC are checked
    against each other on every row; six dirty-prefix arms exercise
    combining composition, jamo, the NFC-keeps-ligatures property,
    and each character set."""
    from doctor_spark.functions.text import unicode_clean_udf

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    arm = (F.col("doc_id") % 6).cast("int")
    dirty = (
        # combining acute (NFC composes) + ZWSP
        F.when(arm == 0, F.concat(F.lit("Cafe\u0301\u200b "), F.col("text")))
        # NBSP + IDEOGRAPHIC SPACE
        .when(arm == 1, F.concat(F.lit("A\u00a0B\u3000C "), F.col("text")))
        # C0 control, DEL, C1 NEL
        .when(arm == 2,
              F.concat(F.lit("X\u0001Y\u007f\u0085Z "), F.col("text")))
        # fi ligature (NFC KEEPS it) + soft hyphen (dropped)
        .when(arm == 3, F.concat(F.lit("\ufb01\u00adle "), F.col("text")))
        # hangul jamo pair (NFC composes to a syllable)
        .when(arm == 4, F.concat(F.lit("\u1100\u1161 "), F.col("text")))
        .otherwise(F.col("text"))
    )
    k = unicode_clean_udf()(dirty)
    return _present(d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        k.getField("clean").alias("clean"),
        k.getField("n_space_mapped").alias("n_space_mapped"),
        k.getField("n_zero_width").alias("n_zero_width"),
        k.getField("n_controls").alias("n_controls"),
        k.getField("changed").alias("changed"),
    ), "doc_id")


def _boilerplate_blocks_sql() -> str:
    """The block catalog (kernels/boilerplate_fixtures.BLOCKS — text and
    link-char literals authored by hand) with every feature, the
    context-free CASE, and the context-sensitive stage recomputed in SQL:
    the window functions below are an independent implementation of the
    pure two-pass jusText context resolution the kernel runs in Python."""
    from doctor_spark.kernels.boilerplate_fixtures import BLOCKS

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ",\n    ".join(
        f"({lit(u)}, {i}, {lit(t)}, {lc})" for u, i, t, lc in BLOCKS
    )
    toks = "regexp_split_to_array(lower(btext), ' ')"
    return f"""
WITH lit(url, block_id, btext, link_chars) AS (VALUES
    {vals}),
f AS (SELECT url, block_id, btext, link_chars,
        length(btext) AS nc,
        len({toks}) AS nw,
        len(list_filter({toks}, tk -> tk IN {_STOPS['en']})) AS hits
      FROM lit),
c AS (SELECT *, (1000 * link_chars) // nc AS link_milli,
        (1000 * hits) // nw AS stop_milli FROM f),
k AS (SELECT *, CASE
        WHEN link_milli > 200 THEN 'bad'
        WHEN position('©' IN btext) > 0 THEN 'bad'
        WHEN nc < 70 THEN
          CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END
        WHEN stop_milli > 320 THEN
          CASE WHEN nc > 200 THEN 'good' ELSE 'neargood' END
        WHEN stop_milli > 300 THEN 'neargood'
        ELSE 'bad' END AS cf_class FROM c),
w AS (SELECT *,
   coalesce(last_value(CASE WHEN cf_class IN ('good','bad') THEN cf_class
       END IGNORE NULLS) OVER (PARTITION BY url ORDER BY block_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad') AS prev_gb,
   coalesce(first_value(CASE WHEN cf_class IN ('good','bad') THEN cf_class
       END IGNORE NULLS) OVER (PARTITION BY url ORDER BY block_id
       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 'bad') AS next_gb,
   coalesce(last_value(CASE WHEN cf_class <> 'short' THEN cf_class
       END IGNORE NULLS) OVER (PARTITION BY url ORDER BY block_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad') AS prev_any,
   coalesce(first_value(CASE WHEN cf_class <> 'short' THEN cf_class
       END IGNORE NULLS) OVER (PARTITION BY url ORDER BY block_id
       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 'bad') AS next_any
   FROM k)
SELECT url, block_id::BIGINT AS block_id, btext,
  nc::BIGINT AS n_chars, nw::BIGINT AS n_words,
  link_chars::BIGINT AS link_chars, link_milli::BIGINT AS link_milli,
  stop_milli::BIGINT AS stop_milli, cf_class,
  CASE WHEN cf_class IN ('good', 'bad') THEN cf_class
       WHEN cf_class = 'neargood' THEN
         CASE WHEN prev_gb = 'bad' AND next_gb = 'bad'
              THEN 'bad' ELSE 'good' END
       WHEN prev_gb = 'good' AND next_gb = 'good' THEN 'good'
       WHEN prev_gb = 'bad' AND next_gb = 'bad' THEN 'bad'
       WHEN (prev_gb = 'bad' AND prev_any = 'neargood')
         OR (next_gb = 'bad' AND next_any = 'neargood') THEN 'good'
       ELSE 'bad' END AS final_class
FROM w
"""


@query(oracle=_boilerplate_blocks_sql())
def q_boilerplate_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-dialect block classification over the hand-authored fixture
    pages (kernels/boilerplate_fixtures.py).  The oracle carries the block
    catalog as literals and recomputes every feature, the context-free
    CASE, and the context-sensitive stage as window functions — so the
    HTML-parsing path and the classification logic are pinned
    independently.  Reference anchor: doctor/lib/html.py boilerplate
    strip; algorithm: Pomikalek 2011 (jusText), dialect documented in
    kernels/boilerplate.py."""
    from doctor_spark.kernels.boilerplate_fixtures import PAGES
    from doctor_spark.operators.boilerplate import justext_blocks

    df = spark.createDataFrame(sorted(PAGES.items()), "url string, html string")
    return justext_blocks(df)


# Static wrapper for the boilerplate corpus query: nav (pure links ->
# link_milli 1000 -> bad) + the document text as the single content block +
# a copyright footer (-> bad).  Both engines agree on the wrapper by
# construction; only the content block's classification varies per doc.
_BP_PRE = ('<html><body><nav><a href="/">Home</a> '
           '<a href="/about">About</a></nav><p>')


_BP_POST = "</p><footer>© 2024 Example Corp</footer></body></html>"


def _boilerplate_corpus_sql(per_lang: bool = False) -> str:
    """Mirror of q_boilerplate_corpus: the static wrapper contributes a
    link-only nav (bad) and a copyright footer (bad), so only the content
    block's class varies; the SQL recomputes its normalization, features,
    classification, and the kept-content md5 straight from ``text``.
    With ``per_lang``, the stopword membership check dispatches on the
    ``lang`` column through a CASE of list literals — the SQL form of
    the operator's per-row inventory selection (unknown langs → en)."""
    toks = "regexp_split_to_array(lower(norm), ' ')"
    if per_lang:
        def lst(lg: str) -> str:
            return "[" + ",".join(
                "'" + w.replace("'", "''") + "'"
                for w in _LANG_STOPWORDS[lg]) + "]"

        whens = "\n             ".join(
            f"WHEN lang = '{lg}' THEN {lst(lg)}"
            for lg in _LANG_STOPWORDS if lg != "en"
        )
        hits = (f"len(list_filter({toks}, tk -> list_contains("
                f"CASE {whens} ELSE {lst('en')} END, tk)))")
        lang_sel = ", lang"
    else:
        hits = f"len(list_filter({toks}, tk -> tk IN {_STOPS['en']}))"
        lang_sel = ""
    return f"""
WITH n AS (SELECT doc_id{lang_sel},
        trim(regexp_replace(coalesce(text, ''), '{_JAVA_WS_CLASS}+', ' ',
             'g'), ' ') AS norm
      FROM documents),
f AS (SELECT doc_id, norm, length(norm) AS nc,
        CASE WHEN norm = '' THEN 0 ELSE len({toks}) END AS nw,
        CASE WHEN norm = '' THEN 0
             ELSE {hits}
        END AS hits
      FROM n),
c AS (SELECT doc_id, norm, nc,
        CASE WHEN nc = 0 THEN 'none'
             WHEN position('©' IN norm) > 0 THEN 'bad'
             WHEN nc < 70 THEN 'short'
             WHEN (1000 * hits) // nw > 320 THEN
                CASE WHEN nc > 200 THEN 'good' ELSE 'neargood' END
             WHEN (1000 * hits) // nw > 300 THEN 'neargood'
             ELSE 'bad' END AS cf
      FROM f)
SELECT doc_id::BIGINT AS doc_id,
  (CASE WHEN nc = 0 THEN 2 ELSE 3 END)::BIGINT AS n_blocks,
  (CASE WHEN cf = 'good' THEN 1 ELSE 0 END)::BIGINT AS n_good,
  (CASE WHEN cf = 'short' THEN 1 ELSE 0 END)::BIGINT AS n_short_cf,
  (CASE WHEN cf = 'neargood' THEN 1 ELSE 0 END)::BIGINT AS n_neargood_cf,
  (CASE WHEN cf = 'good' THEN nc ELSE 0 END)::BIGINT AS good_chars,
  md5(CASE WHEN cf = 'good' THEN norm ELSE '' END) AS main_md5
FROM c
"""


@query(oracle=_boilerplate_corpus_sql())
def q_boilerplate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only main-content pass over the documents table wrapped in the
    static nav/content/footer template: per-doc block counts plus the md5
    of the kept main content.  The scale-bearing form of the boilerplate
    operator — one mapInArrow stage, zero shuffles."""
    from doctor_spark.operators.boilerplate import justext_doc_summary

    docs = _docs(spark, sf_dir)
    esc = F.expr("replace(replace(replace(coalesce(text, ''),"
                 " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")
    pages = docs.select(
        "doc_id", F.concat(F.lit(_BP_PRE), esc, F.lit(_BP_POST)).alias("html")
    )
    return justext_doc_summary(pages, key_col="doc_id", html_col="html")


@query(oracle=_boilerplate_corpus_sql(per_lang=True))
def q_boilerplate_corpus_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multilingual form of q_boilerplate_corpus: the stopword
    inventory is selected PER ROW from the document's ``lang`` column
    (jusText's per-language lists; unknown langs fall back to English,
    failing closed).  Same map-only plan; the oracle mirrors the
    inventory dispatch as a CASE of list literals."""
    from doctor_spark.operators.boilerplate import justext_doc_summary

    docs = _docs(spark, sf_dir)
    esc = F.expr("replace(replace(replace(coalesce(text, ''),"
                 " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")
    pages = docs.select(
        "doc_id", "lang",
        F.concat(F.lit(_BP_PRE), esc, F.lit(_BP_POST)).alias("html"),
    )
    return justext_doc_summary(pages, key_col="doc_id", html_col="html",
                               lang_col="lang")


def _content_spans_sql() -> str:
    """Mirror of q_content_spans: the wrapper geometry makes every offset
    a closed-form function of the escaped-text length — nav text spans
    [29, 60) inside the 73-char prefix, the content block spans
    [73, 73+len(esc)), and the footer text ('© 2024 Example Corp',
    19 chars) starts 12 chars into the suffix.  The classification CASE
    is the corpus oracle's; the content row is absent when the
    normalized text is empty (the kernel drops empty blocks), which also
    shifts the footer's block_id from 2 to 1."""
    toks = "regexp_split_to_array(lower(norm), ' ')"
    hits = f"len(list_filter({toks}, tk -> tk IN {_STOPS['en']}))"
    return f"""
WITH n AS (SELECT doc_id,
        length(replace(replace(replace(coalesce(text, ''),
               '&', '&amp;'), '<', '&lt;'), '>', '&gt;')) AS esc_len,
        trim(regexp_replace(coalesce(text, ''), '{_JAVA_WS_CLASS}+', ' ',
             'g'), ' ') AS norm
      FROM documents),
f AS (SELECT doc_id, esc_len, norm, length(norm) AS nc,
        CASE WHEN norm = '' THEN 0 ELSE len({toks}) END AS nw,
        CASE WHEN norm = '' THEN 0 ELSE {hits} END AS hits
      FROM n),
c AS (SELECT doc_id, esc_len, nc,
        CASE WHEN nc = 0 THEN 'none'
             WHEN position('©' IN norm) > 0 THEN 'bad'
             WHEN nc < 70 THEN 'short'
             WHEN (1000 * hits) // nw > 320 THEN
                CASE WHEN nc > 200 THEN 'good' ELSE 'neargood' END
             WHEN (1000 * hits) // nw > 300 THEN 'neargood'
             ELSE 'bad' END AS cf
      FROM f)
SELECT doc_id::BIGINT AS doc_id, 0::BIGINT AS block_id,
       29::BIGINT AS start_off, 60::BIGINT AS end_off,
       10::BIGINT AS n_chars, 'bad' AS final_class, false AS kept
FROM c
UNION ALL
SELECT doc_id::BIGINT, 1::BIGINT, 73::BIGINT, (73 + esc_len)::BIGINT,
       nc::BIGINT, CASE WHEN cf = 'good' THEN 'good' ELSE 'bad' END,
       cf = 'good'
FROM c WHERE cf <> 'none'
UNION ALL
SELECT doc_id::BIGINT, (CASE WHEN cf = 'none' THEN 1 ELSE 2 END)::BIGINT,
       (73 + esc_len + 12)::BIGINT, (73 + esc_len + 31)::BIGINT,
       19::BIGINT, 'bad', false
FROM c
"""


@query(oracle=_content_spans_sql())
def q_content_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span lineage for the main-content pass (the north rule's
    "extracted text/spans per document"): one row per non-empty block
    with its [start_off, end_off) source char offsets in the page HTML,
    the final jusText-dialect class, and the keep verdict.  Spark side
    is one mapInArrow stage, zero shuffles; the oracle recomputes every
    offset analytically from the static wrapper geometry plus the
    escaped-text length, so the kernel's HTMLParser position tracking
    (entity source lengths included — the text is &-escaped into the
    wrapper) is pinned end-to-end."""
    from doctor_spark.operators.boilerplate import justext_spans

    docs = _docs(spark, sf_dir)
    esc = F.expr("replace(replace(replace(coalesce(text, ''),"
                 " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")
    pages = docs.select(
        "doc_id", F.concat(F.lit(_BP_PRE), esc, F.lit(_BP_POST)).alias("html")
    )
    return justext_spans(pages, key_col="doc_id", html_col="html")


def _c4_pages(docs: DataFrame) -> DataFrame:
    """Deterministic multi-line web-page synthesis for the C4 queries,
    mirrored 1:1 in SQL (``_C4_PAGES_CTE``).  The single-line synthetic
    documents become pages whose arms exercise every rule: 6-word body
    lines with terminal punctuation on odd lines only (line filter
    discriminates), a short tail line (< 5 words → dropped), a shared
    3-line social block on doc_id % 7 == 0 (span dedup fires corpus-wide,
    keeper = min doc), a javascript line on % 5 == 0, "lorem ipsum" page
    poison on % 11 == 3, a ``{`` code line on % 13 == 1, and the
    stand-in banned token on % 17 == 2."""
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    body = F.transform(
        F.sequence(F.lit(1), F.greatest(
            F.ceil(F.size(toks) / 6).cast("int"), F.lit(1))),
        lambda i: F.concat(
            F.concat_ws(" ", F.slice(toks, (i - 1) * 6 + 1, 6)),
            F.when(i % 2 == 1, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    social = F.when(
        F.col("doc_id") % 7 == 0,
        F.array(F.lit("Follow our updates on social media today!"),
                F.lit("Share this story with all your friends now."),
                F.lit("Sign up for the daily newsletter right here.")),
    ).otherwise(F.array().cast("array<string>"))
    extras = F.concat(
        F.when(F.col("doc_id") % 5 == 0,
               F.array(F.lit("Please enable javascript to continue "
                             "reading this article.")))
        .otherwise(F.array().cast("array<string>")),
        F.when(F.col("doc_id") % 11 == 3,
               F.array(F.lit("This page is filled with lorem ipsum "
                             "placeholder content.")))
        .otherwise(F.array().cast("array<string>")),
        F.when(F.col("doc_id") % 13 == 1,
               F.array(F.lit("function f() { return 1; }")))
        .otherwise(F.array().cast("array<string>")),
        F.when(F.col("doc_id") % 17 == 2,
               F.array(F.lit("An unsafeword token appears right here in "
                             "this line.")))
        .otherwise(F.array().cast("array<string>")),
    )
    page = F.concat_ws(
        "\n",
        F.array_join(social, "\n"),
        F.array_join(body, "\n"),
        F.array_join(extras, "\n"),
        F.lit("tail words"),
    )
    # concat_ws skips nothing here (arms emit '' when empty) — collapse
    # the empty segments so line counts stay meaningful on both engines
    page = F.regexp_replace(page, "\n{2,}", "\n")
    page = F.regexp_replace(page, "^\n+|\n+$", "")
    return docs.select("doc_id", page.alias("text"))


_C4_PAGES_CTE = """
WITH pages AS (
  SELECT doc_id,
    regexp_replace(
      concat_ws(chr(10),
        CASE WHEN doc_id % 7 = 0 THEN
          'Follow our updates on social media today!' || chr(10) ||
          'Share this story with all your friends now.' || chr(10) ||
          'Sign up for the daily newsletter right here.'
        ELSE '' END,
        array_to_string(
          list_transform(range(1, greatest(
              cast(ceil(len(regexp_split_to_array(coalesce(text, ''), ' '))
                   / 6.0) AS INT), 1) + 1),
            i -> array_to_string(list_slice(
                   regexp_split_to_array(coalesce(text, ''), ' '),
                   (i - 1) * 6 + 1, (i - 1) * 6 + 6), ' ')
                 || CASE WHEN i % 2 = 1 THEN '.' ELSE '' END),
          chr(10)),
        concat_ws(chr(10),
          CASE WHEN doc_id % 5 = 0 THEN
            'Please enable javascript to continue reading this article.'
          ELSE '' END,
          CASE WHEN doc_id % 11 = 3 THEN
            'This page is filled with lorem ipsum placeholder content.'
          ELSE '' END,
          CASE WHEN doc_id % 13 = 1 THEN
            'function f() { return 1; }' ELSE '' END,
          CASE WHEN doc_id % 17 = 2 THEN
            'An unsafeword token appears right here in this line.'
          ELSE '' END),
        'tail words'),
      chr(10) || '{2,}', chr(10), 'g') AS text0
  FROM documents
), pagesx AS (
  SELECT doc_id,
         regexp_replace(text0, '^' || chr(10) || '+|' || chr(10) || '+$',
                        '', 'g') AS text
  FROM pages
)
"""


_C4_TRIM = "'^[ \\t]+|[ \\t]+$'"


def _c4_clean_sql() -> str:
    """Mirror of q_c4_clean: the page CTE is shared verbatim, then the
    line-retention rule (trim → terminal punct → ≥5 words → no
    'javascript') runs as a list_filter lambda and the four page gates
    as a first-match CASE.  Kept lines are emitted TRIMMED, exactly as
    the operator does."""
    t = f"regexp_replace(ln, {_C4_TRIM}, '', 'g')"
    keep = (f"right({t}, 1) IN ('.', '!', '?', '\"') AND "
            f"len(list_filter(str_split({t}, ' '), w -> w <> '')) >= 5 AND "
            f"position('javascript' IN lower({t})) = 0")
    return _C4_PAGES_CTE + f"""
, d AS (
  SELECT doc_id, text, regexp_split_to_array(text, chr(10)) AS ls
  FROM pagesx
), k AS (
  SELECT doc_id, text, ls,
         list_filter(ls, ln -> {keep}) AS kept
  FROM d
), g AS (
  SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept, kept,
         CASE WHEN position('lorem ipsum' IN lower(text)) > 0
                THEN 'lorem_ipsum'
              WHEN position('{{' IN text) > 0 THEN 'brace'
              WHEN len(list_intersect(
                     list_filter(regexp_split_to_array(lower(text),
                                 '{_JAVA_WS_CLASS}'), w -> w <> ''),
                     ['unsafeword'])) > 0 THEN 'banned_word'
              WHEN len(kept) < 3 THEN 'too_few_lines' END AS drop_reason
  FROM k
)
SELECT doc_id::BIGINT AS doc_id, n_lines::BIGINT AS n_lines,
       n_kept::BIGINT AS n_kept, drop_reason,
       drop_reason IS NULL AS page_ok,
       md5(coalesce(array_to_string(
             list_transform(kept,
               ln -> regexp_replace(ln, {_C4_TRIM}, '', 'g')),
             chr(10)), '')) AS clean_hash
FROM g
"""


@query(oracle=_c4_clean_sql())
def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-retention + page-poison pass (Raffel et al. 2020 §2.2)
    over the synthesized multi-line pages.  Spark side is pure Column
    expressions — zero shuffles, zero Python, whole-stage codegen; the
    oracle replays the trim/terminal-punct/word-count/javascript line
    rule and the four page gates over the identical page CTE."""
    from doctor_spark.operators.c4 import c4_line_filter

    pages = _c4_pages(_docs(spark, sf_dir))
    out = c4_line_filter(pages, banned_words=("unsafeword",))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_lines",
        "n_kept",
        "drop_reason",
        "page_ok",
        F.md5(F.col("cleaned_text").cast("binary")).alias("clean_hash"),
    )


def _c4_span_sql(n: int = 3) -> str:
    """Mirror of q_c4_span_dedup: spans built with DuckDB list lambdas
    over the shared page CTE (trim-normalized lines, newline-joined,
    60-bit md5 key), keeper = first (doc_id, start) per key via
    row_number, removed line indices regenerated and set-subtracted,
    cleaned text rebuilt from the RAW lines."""
    return _C4_PAGES_CTE + f"""
, d AS (
  SELECT doc_id, regexp_split_to_array(text, chr(10)) AS ls,
         list_transform(regexp_split_to_array(text, chr(10)),
           x -> regexp_replace(x, {_C4_TRIM}, '', 'g')) AS nl
  FROM pagesx
), occ AS (
  SELECT doc_id,
    unnest(CASE WHEN len(nl) >= {n} THEN range(1, len(nl) - {n - 2})
                ELSE [] END) AS start,
    unnest(CASE WHEN len(nl) >= {n} THEN
        list_transform(range(1, len(nl) - {n - 2}),
          i -> ('0x' || substr(md5(array_to_string(
                 list_slice(nl, i, i + {n - 1}), chr(10))), 1, 15))::BIGINT)
      ELSE [] END) AS h
  FROM d
), mk AS (
  SELECT doc_id, start,
         count(*) OVER (PARTITION BY h) AS c,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
  FROM occ
), rem AS (
  SELECT doc_id, unnest(range(start, start + {n})) AS idx
  FROM mk WHERE c > 1 AND rn > 1
), remset AS (
  SELECT doc_id, list_distinct(list(idx)) AS rl FROM rem GROUP BY doc_id
)
SELECT d.doc_id::BIGINT AS doc_id, len(d.ls)::BIGINT AS n_lines,
       coalesce(len(r.rl), 0)::BIGINT AS n_removed,
       md5(coalesce(array_to_string(
             list_transform(
               list_filter(range(1, len(d.ls) + 1),
                 i -> NOT list_contains(coalesce(r.rl, []), i)),
               i -> d.ls[i]),
             chr(10)), '')) AS clean_hash
FROM d LEFT JOIN remset r USING (doc_id)
"""


@query(oracle=_c4_span_sql())
def q_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 corpus-level three-line-span dedup over the synthesized pages:
    the shared social block survives only in the minimum doc_id taking
    it; every other occurrence's three lines are removed.  Plan: span
    hashing per-row in codegen, the exploded stream carries (doc_id,
    start, h) only — ONE exchange on the span hash, ONE on doc_id, ONE
    keyed join back.  Oracle replays spans/keeper/removal with DuckDB
    list lambdas over the identical page CTE."""
    from doctor_spark.operators.c4 import c4_span_dedup

    pages = _c4_pages(_docs(spark, sf_dir))
    out = c4_span_dedup(pages)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_lines",
        "n_removed",
        F.md5(F.col("cleaned_text").cast("binary")).alias("clean_hash"),
    )


def _char_entropy_sql() -> str:
    """Mirror of functions/text.py:char_entropy_micro_row, recomputed the
    slow honest way: explode the normalized text into code points
    (regexp_extract_all '.', RE2 — norm is newline-free by construction),
    groupBy, then the identical int64 micro-log10 fold.  NULL text →
    NULL row; empty/ws-only → 0."""
    mic = "CAST(floor(log10({x}) * 1000000 + 0.5) AS BIGINT)"
    ent = ("(s.ntot * " + mic.format(x="s.ntot")
           + " - s.tot) // s.ntot")
    return f"""
WITH n AS (SELECT doc_id,
        CASE WHEN text IS NULL THEN NULL
             ELSE trim(regexp_replace(text, '{_JAVA_WS_CLASS}+', ' ', 'g'),
                       ' ') END AS norm
      FROM documents),
c AS (SELECT doc_id, ch, count(*)::BIGINT AS cnt
      FROM n, unnest(regexp_extract_all(norm, '.')) AS t(ch)
      WHERE norm IS NOT NULL AND norm <> ''
      GROUP BY doc_id, ch),
s AS (SELECT doc_id, sum(cnt) AS ntot,
        sum(cnt * {mic.format(x="cnt")}) AS tot
      FROM c GROUP BY doc_id),
e AS (SELECT n.doc_id, n.norm,
        CASE WHEN n.norm IS NULL THEN NULL
             WHEN s.ntot IS NULL THEN 0
             ELSE {ent} END AS em
      FROM n LEFT JOIN s USING (doc_id))
SELECT doc_id::BIGINT AS doc_id,
  em::BIGINT AS entropy_micro,
  (em < 300000) AS low_entropy
FROM e
"""


@query(oracle=_char_entropy_sql())
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish gate (RefinedWeb/Dolma-class signal:
    base64 blobs, aaaa-runs, binary spill all score low).  Spark side is
    one map-only Arrow kernel (the per-doc counter never leaves the
    task); the oracle pays an explode+groupBy to recompute the same
    int64 micro-log10 arithmetic from scratch."""
    from doctor_spark.functions.text import (
        LOW_ENTROPY_MICRO,
        char_entropy_udf,
    )

    ent = char_entropy_udf()(F.col("text")).alias("entropy_micro")
    return _docs(spark, sf_dir).select(
        "doc_id",
        ent,
    ).select(
        "doc_id", "entropy_micro",
        (F.col("entropy_micro") < LOW_ENTROPY_MICRO).alias("low_entropy"),
    )
