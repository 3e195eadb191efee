"""Data-mixing queries: DSIR selection, temperature mixing, quota and hash
sampling, sequence packing, token deciles, corpus health and the
host-disjoint split audit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from doctor_spark.queries import _FP, _TOKS, _docs, _docs_spread, _present, query


@query(oracle=f"""
-- DSIR oracle: replay the hashed uni+bigram model fit (Laplace lp in
-- int64 micro-log10, same IEEE division + libm log10 as the driver-side
-- math.log10), the per-doc llr sum, the md5-grid Gumbel draw
-- (-log10(-log10 u) — constant-shifted Gumbel, order-exact), and the
-- (key DESC, doc_id) top-100.
WITH d AS (
  SELECT doc_id, {_TOKS} AS tk
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
), g AS (
  SELECT doc_id, unnest(tk) AS g FROM d
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1])) AS g
  FROM d WHERE len(tk) >= 2
), b AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS b
  FROM g
), tgt AS (
  SELECT doc_id FROM d
  WHERE substring(md5('dsir-t' || doc_id::VARCHAR), 1, 4) < '4000'
), cnt AS (
  SELECT b.b,
         count(*)::BIGINT AS c_r,
         sum(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS c_t
  FROM b LEFT JOIN tgt t USING (doc_id)
  GROUP BY b.b
), tot AS (
  SELECT sum(c_r)::BIGINT AS cr, sum(c_t)::BIGINT AS ct FROM cnt
), llr AS (
  SELECT r.range AS b,
         CAST(floor(log10((coalesce(c.c_t, 0) + 1)::DOUBLE
                          / (tot.ct + 1024)) * 1e6 + 0.5) AS BIGINT)
         - CAST(floor(log10((coalesce(c.c_r, 0) + 1)::DOUBLE
                            / (tot.cr + 1024)) * 1e6 + 0.5) AS BIGINT)
           AS llr
  FROM range(0, 1024) r LEFT JOIN cnt c ON c.b = r.range, tot
), lw AS (
  SELECT b.doc_id, sum(l.llr)::BIGINT AS lw_micro
  FROM b JOIN llr l ON l.b = b.b
  GROUP BY b.doc_id
), keyed AS (
  SELECT d.doc_id, len(d.tk)::BIGINT AS n_tok, w.lw_micro,
         (w.lw_micro + CAST(floor(-log10(-log10(
             ((('0x' || substr(md5('dsir' || d.doc_id::VARCHAR), 1, 15))
               ::BIGINT % 2147483648)::DOUBLE + 0.5) / 2.147483648e9
           )) * 1e6 + 0.5) AS BIGINT))::BIGINT AS key_micro
  FROM d JOIN lw w USING (doc_id)
)
SELECT row_number() OVER (ORDER BY key_micro DESC, doc_id)::BIGINT
         AS rank,
       doc_id::BIGINT AS doc_id, n_tok, lw_micro, key_micro
FROM keyed
ORDER BY key_micro DESC, doc_id
LIMIT 100
""")
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): fit hashed uni+bigram
    bag-of-ngrams models for a target band (md5 salt 'dsir-t', rate
    0.25 — the "Wikipedia" stand-in) and the raw corpus in ONE keyed
    exchange, score every doc's importance log-weight as a zero-shuffle
    JVM aggregate over the embedded 1024-int llr table, Gumbel-top-k
    (k=100) resample with md5-derived deterministic noise.  All
    log-probs int64 micro-log10 (libm both engines); selection is
    TakeOrdered, never a global sort."""
    from doctor_spark.operators.dsir import (
        dsir_llr_table,
        dsir_resample,
        dsir_scores,
    )
    from doctor_spark.operators.sampling import sample_bucket

    d = _docs_spread(spark, sf_dir).where(
        F.col("text").isNotNull()
        & (F.length(F.trim(F.col("text"))) > 0)
    )
    is_t = sample_bucket(F.col("doc_id"), "dsir-t") < F.lit("4000")
    llr = dsir_llr_table(d, is_t)
    scored = dsir_scores(d, llr)
    return dsir_resample(scored, k=100, salt="dsir").select(
        "rank",
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tok",
        "lw_micro",
        "key_micro",
    )


@query(oracle="""
WITH c AS (
  SELECT source AS domain, count(*)::BIGINT AS n_docs
  FROM documents GROUP BY 1
), t AS (SELECT sum(n_docs)::BIGINT AS tot FROM c),
w AS (
  SELECT domain, n_docs, tot,
         CAST(floor(pow(n_docs::DOUBLE / tot, 0.5) * 1e9 + 0.5)
              AS BIGINT) AS pw
  FROM c, t
), z AS (SELECT sum(pw)::BIGINT AS z FROM w)
SELECT domain, n_docs,
       round(n_docs::DOUBLE / tot, 4) AS p,
       round(pw::DOUBLE / z, 4) AS weight,
       CAST(floor(tot::DOUBLE * pw / (z::DOUBLE * n_docs) * 1e6 + 0.5)
            AS BIGINT) AS rate_micro
FROM w, z
""")
def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing weights (GPT-3/Llama recipe
    stage): w_d ∝ p_d^0.5 over the source column, plus the per-doc
    expected-copy rate that rebuilds a same-sized corpus.  pow() is
    quantized straight to int64 (libm on both engines) so the
    normalizer and rates are exact integer arithmetic; ONE
    groupBy(domain) exchange with map-side partials."""
    from doctor_spark.operators.sampling import mixture_weights

    return mixture_weights(
        _docs(spark, sf_dir), domain_col="source", alpha=0.5
    ).select(
        "domain",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "p",
        "weight",
        "rate_micro",
    )


@query(oracle="""
WITH c AS (
  SELECT source AS domain, count(*)::BIGINT AS n_docs
  FROM documents GROUP BY 1
), t AS (SELECT sum(n_docs)::BIGINT AS tot FROM c),
w AS (
  SELECT domain, n_docs, tot,
         CAST(floor(pow(n_docs::DOUBLE / tot, 0.5) * 1e9 + 0.5)
              AS BIGINT) AS pw
  FROM c, t
), z AS (SELECT sum(pw)::BIGINT AS z FROM w),
rates AS (
  SELECT domain,
         CAST(floor(tot::DOUBLE * pw / (z::DOUBLE * n_docs) * 1e6 + 0.5)
              AS BIGINT) AS rate_micro
  FROM w, z
), docs AS (
  SELECT d.doc_id, d.source AS domain, r.rate_micro,
         ('0x' || substring(md5('mix' || d.doc_id::VARCHAR), 1, 4))::BIGINT
           AS b
  FROM documents d JOIN rates r ON d.source = r.domain
), cp AS (
  SELECT doc_id, domain,
         rate_micro // 1000000
           + CASE WHEN b * 1000000 < (rate_micro % 1000000) * 65536
                  THEN 1 ELSE 0 END AS copies
  FROM docs
)
SELECT doc_id::BIGINT AS doc_id, domain,
       unnest(range(1, copies + 1))::BIGINT AS copy_no
FROM cp WHERE copies >= 1
""")
def q_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized temperature mixture: every doc appears
    floor(rate) times plus one more iff its md5 bucket clears the
    fractional remainder — deterministic multinomial-expectation
    resampling on any engine/cluster/retry.  Map-only over a broadcast
    domain→rate table + explode(sequence); the only exchange over the
    corpus is the weights' domain count."""
    from doctor_spark.operators.sampling import (
        mixture_weights,
        temperature_resample,
    )

    d = _docs(spark, sf_dir)
    w = mixture_weights(d, domain_col="source", alpha=0.5)
    return temperature_resample(
        d, w, domain_col="source", key_col="doc_id", salt="mix"
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("source").alias("domain"),
        F.col("copy_no").cast("bigint").alias("copy_no"),
    )


@query(oracle=f"""
WITH v AS (
  SELECT lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len({_TOKS}) END AS v
  FROM documents WHERE text IS NOT NULL
), r AS (
  SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn
  FROM v
), c AS (
  SELECT lang, count(*)::BIGINT AS n FROM v GROUP BY 1
), q AS (
  SELECT lang, n, unnest(range(1, 10)) AS q FROM c
)
SELECT q.lang, q.q::BIGINT AS q, q.n,
       r.v::BIGINT AS value
FROM q JOIN r ON r.lang = q.lang AND r.rn = (q.q * q.n + 9) // 10
""")
def q_token_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token-count deciles (corpus audit): type-1
    quantiles at rank ceil(q·n/10) — pure integer rank arithmetic, no
    estimator, engine-exact.  One window per language + one tiny rank-
    target join; the pre-aggregate-to-(value,count) variant for a
    single global group is documented in the operator."""
    from doctor_spark.functions.text import token_count
    from doctor_spark.operators.stats import grouped_deciles

    d = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("lang", token_count(F.col("text")).alias("tok"))
    )
    return grouped_deciles(d, "tok", "lang").select(
        "lang", "q", "n", F.col("value").cast("bigint").alias("value")
    )


@query(oracle="""
SELECT doc_id::BIGINT AS doc_id, lang, source, rk::BIGINT AS sample_rank
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY substr(md5(doc_id::VARCHAR), 1, 4), doc_id) AS rk
  FROM documents
) WHERE rk <= 5
""")
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix quota sampling: 5 documents per (lang, source)
    stratum, ranked by the engine-portable (md5-bucket, key) order — the
    deterministic complement to rate-based corpus_sample.  ONE exchange
    on the strata columns; the hot-stratum prefilter path is documented
    and tested in the operator."""
    from doctor_spark.operators.sampling import stratified_sample

    out = stratified_sample(
        _docs(spark, sf_dir), ["lang", "source"], quota=5
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "lang",
        "source",
        F.col("sample_rank").cast("bigint").alias("sample_rank"),
    )


@query(oracle=f"""
WITH t AS (
  SELECT text, lang, source,
         (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
               ELSE len({_TOKS}) END) AS tok,
         CASE WHEN text IS NULL THEN NULL ELSE {_FP} END AS fp
  FROM documents
)
SELECT count(*)::BIGINT AS n_docs,
       sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_text,
       sum(tok)::BIGINT AS total_tokens,
       count(DISTINCT fp)::BIGINT AS n_distinct_fp,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT source)::BIGINT AS n_sources,
       round(avg(tok), 4)::DOUBLE AS avg_tokens,
       max(length(text))::BIGINT AS max_chars
FROM t
""")
def q_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus health rollup (the per-snapshot dashboard row):
    doc/NULL counts, token mass, exact distinct fingerprints (dup rate),
    language spread.  ONE aggregate over ONE scan — partial map-side
    aggregation makes this a near-free pass even at 10^12 rows; the only
    exchange carries a handful of partial states."""
    from doctor_spark.functions.text import fingerprint, token_count

    d = _docs(spark, sf_dir)
    tok = F.coalesce(token_count(F.col("text")), F.lit(0))
    return d.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
        F.sum(tok).cast("bigint").alias("total_tokens"),
        F.countDistinct(fingerprint(F.col("text"))).alias("n_distinct_fp"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg(tok), 4).alias("avg_tokens"),
        F.max(F.length("text")).cast("bigint").alias("max_chars"),
    )


@query(oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
               ELSE len({_TOKS}) END)::BIGINT AS n_tokens
  FROM documents
), s AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS start_offset
  FROM t
)
SELECT doc_id, source, n_tokens, start_offset,
       seq_first, seq_last,
       coalesce(seq_last - seq_first + 1, 0)::BIGINT AS n_seqs
FROM (
  SELECT doc_id::BIGINT AS doc_id, source, n_tokens,
         start_offset::BIGINT AS start_offset,
         (CASE WHEN n_tokens > 0 THEN start_offset // 256 END)::BIGINT
           AS seq_first,
         (CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 256
          END)::BIGINT AS seq_last
  FROM s
)
""")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing lineage: each document's placement in
    the per-source concatenated token stream (offset, first/last
    sequence id at L=256 tokens).  ONE keyed exchange on the stream
    column + a window prefix sum."""
    from doctor_spark.operators.packing import pack_sequences

    out = pack_sequences(_docs(spark, sf_dir), seq_len=256)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("source"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("start_offset").cast("bigint").alias("start_offset"),
        F.col("seq_first").cast("bigint").alias("seq_first"),
        F.col("seq_last").cast("bigint").alias("seq_last"),
        F.col("n_seqs").cast("bigint").alias("n_seqs"),
    )


@query(oracle="""
WITH b AS (
  SELECT doc_id,
         substring(md5('mix1' || doc_id::VARCHAR), 1, 4) AS bucket
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, 'train' AS split, bucket
FROM b WHERE bucket >= '0000' AND bucket < printf('%04x', 13107)
UNION ALL
SELECT doc_id::BIGINT AS doc_id, 'val' AS split, bucket
FROM b WHERE bucket >= printf('%04x', 13107) AND bucket < printf('%04x', 16384)
""")
def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (training-mix building block): a ~20%
    sample plus a disjoint validation band from the same hashing, keyed
    on md5 hex-prefix order — reproducible on any engine/cluster/retry,
    zero shuffles (pure codegen'd filter over the scan)."""
    from doctor_spark.operators.sampling import hash_sample, sample_bucket

    d = _docs(spark, sf_dir)
    train = hash_sample(d, key_col="doc_id", rate=0.2, salt="mix1").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.lit("train").alias("split"),
        sample_bucket(F.col("doc_id"), "mix1").alias("bucket"),
    )
    val = hash_sample(
        d, key_col="doc_id", salt="mix1", band=(0.2, 0.25)
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.lit("val").alias("split"),
        sample_bucket(F.col("doc_id"), "mix1").alias("bucket"),
    )
    return train.unionByName(val)


# Host synthesis for the split query — arms exercise the registrable-
# domain rule: plain eTLD+1, second-level registries (.co.uk/.com.au,
# needing the 3-label form), mixed case, a dotless single label, and a
# deep subdomain chain.
_SPLIT_HOST_SQL = """
CASE CAST(doc_id % 6 AS INT)
  WHEN 0 THEN 'www.news' || CAST(doc_id % 23 AS VARCHAR(4)) || '.example.com'
  WHEN 1 THEN 'a.b.site' || CAST(doc_id % 17 AS VARCHAR(4)) || '.co.uk'
  WHEN 2 THEN 'cdn.shop' || CAST(doc_id % 13 AS VARCHAR(4)) || '.com.au'
  WHEN 3 THEN 'Blog' || CAST(doc_id % 11 AS VARCHAR(4)) || '.Example.ORG'
  WHEN 4 THEN 'host' || CAST(doc_id % 7 AS VARCHAR(4)) || 'nodots'
  ELSE 'deep.x.y.site' || CAST(doc_id % 19 AS VARCHAR(4)) || '.net'
END
"""


def _host_split_sql() -> str:
    """FULL replay of operators/splits.py over the shared host
    synthesis: registrable-domain regexes + second-level suffix list,
    md5 4-hex bucket vs the (0.8, 0.1, 0.1) boundaries, and the
    two-level (split, domain) -> split rollup."""
    from doctor_spark.operators.splits import (
        SECOND_LEVEL_TLDS,
        split_boundaries,
    )

    train_hi, val_hi = split_boundaries((0.8, 0.1, 0.1))
    suffixes = ", ".join(f"'{s}'" for s in SECOND_LEVEL_TLDS)
    two = r"regexp_extract(lower(host), '([^.]+\.[^.]+)$', 1)"
    three = r"regexp_extract(lower(host), '([^.]+\.[^.]+\.[^.]+)$', 1)"
    return f"""
WITH p AS (
  SELECT ({_SPLIT_HOST_SQL}) AS host FROM documents WHERE text IS NOT NULL
),
d AS (
  SELECT CASE
    WHEN {three} <> '' AND {two} IN ({suffixes}) THEN {three}
    WHEN {two} <> '' THEN {two}
    ELSE lower(host) END AS domain
  FROM p
),
a AS (
  SELECT domain,
    CASE WHEN substr(md5('split' || domain), 1, 4) < '{train_hi}'
         THEN 'train'
         WHEN substr(md5('split' || domain), 1, 4) < '{val_hi}'
         THEN 'val'
         ELSE 'test' END AS split
  FROM d
),
pd AS (SELECT split, domain, count(*)::BIGINT AS n_pages FROM a GROUP BY 1, 2)
SELECT split, CAST(sum(n_pages) AS BIGINT) AS n_pages,
       count(*)::BIGINT AS n_domains
FROM pd GROUP BY split ORDER BY split
"""


@query(oracle=_host_split_sql())
def q_host_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-disjoint train/val/test split audit — the leakage gate:
    every page of a registrable domain (eTLD+1 approximation, known
    second-level registries handled) lands in exactly one split via
    md5-bucket thresholds (no RNG — reproducible on any cluster size /
    engine / retry).  Assignment is a pure projection (zero shuffles
    over 10^12 rows); the audit rollup pre-combines on (split, domain)
    so hot sites collapse map-side.  The oracle replays the FULL
    computation — domain regexes + suffix list, md5 bucketing,
    thresholds, two-level rollup — in DuckDB."""
    from doctor_spark.operators.splits import assign_split, split_summary

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
        F.expr(_SPLIT_HOST_SQL).alias("host")
    )
    return _present(split_summary(assign_split(d)), "split")
