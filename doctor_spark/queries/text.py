"""Text-analysis and multilingual queries: language id, paragraph
languages, hreflang and bitext, sentences, collocations, chunks, quotes,
citations, vocabulary growth, RAKE, stemming, Zipf, TextRank and token
statistics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# generated from the single source of truth so the Spark side and the
# oracle can never drift (round-4: 18 Latin-script inventories)
from doctor_spark.functions.text import (
    LANG_STOPWORDS as _LANG_STOPWORDS, LATIN_CLASS as _LATIN_CLASS,
    SCRIPT_RANGES as _SCRIPT_RANGES,
)
from doctor_spark.queries import (
    _JAVA_WS_CLASS, _TOKS, _docs, _docs_spread, _present, query,
)


@query(oracle=f"""
WITH tk AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tk) - 5 + 2), i ->
           ('0x' || substr(md5(
              array_to_string(list_slice(tk, i, i + 4), ' ')), 1, 15)
           )::BIGINT)) AS s
  FROM tk WHERE len(tk) >= 5
), refh AS (
  SELECT DISTINCT unnest(s) AS h FROM sh
  WHERE substring(md5('nov' || doc_id::VARCHAR), 1, 4)
        < printf('%04x', 32768)
), d AS (
  SELECT doc_id, len(s)::BIGINT AS n_sh, unnest(s) AS h FROM sh
)
SELECT d.doc_id::BIGINT AS doc_id, d.n_sh,
       count(r.h)::BIGINT AS n_seen,
       round((d.n_sh - count(r.h))::DOUBLE / d.n_sh, 4) AS novel_frac
FROM d LEFT JOIN refh r ON d.h = r.h
GROUP BY d.doc_id, d.n_sh
""")
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 5-gram novelty vs a hash-band reference half — the
    memorization/overlap audit (Lee/Carlini lineage): |doc shingles not
    in ref| / |doc shingles|.  ONE distinct exchange on the ref side,
    ONE keyed 60-bit-hash equi-join (never broadcast by default — a
    crawl-scale reference can't be), ONE groupBy(doc) fold-back."""
    from doctor_spark.operators.dedup import ngram_novelty
    from doctor_spark.operators.sampling import hash_sample

    d = _docs(spark, sf_dir)
    ref = hash_sample(d, key_col="doc_id", rate=0.5, salt="nov")
    return ngram_novelty(d, ref, n=5).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_sh",
        "n_seen",
        "novel_frac",
    )


@query(oracle=f"""
SELECT doc_id::BIGINT AS doc_id,
       (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END)::BIGINT
         AS ws_tokens,
       len(regexp_extract_all(text,
         '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+'
         || '| ?[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+'
       ))::BIGINT AS bpe_tokens
FROM documents
""")
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts per document (token-budget
    accounting for training pipelines)."""
    from doctor_spark.functions.text import bpe_token_count, token_count

    t = F.col("text")
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        token_count(t).cast("bigint").alias("ws_tokens"),
        bpe_token_count(t).cast("bigint").alias("bpe_tokens"),
    )


_STOPS = {
    lg: "(" + ",".join("'" + w.replace("'", "''") + "'" for w in ws) + ")"
    for lg, ws in _LANG_STOPWORDS.items()
}


def _lang_guess_expr(col: str = "text") -> str:
    """Mirror of functions.text.lang_guess as a single SQL expression
    over ``col`` (default the document text; para_lang passes the
    unnested paragraph): script vote (explicit BMP ranges,
    character-identical classes), then the 18-language Latin stopword
    argmax; both tie-break orders are the dict orders."""
    toks = (
        f"regexp_split_to_array(trim(lower({col})), '{_JAVA_WS_CLASS}+')"
    )
    s_cnt = {
        s: f"len(regexp_extract_all({col}, '{_SCRIPT_RANGES[s]}'))"
        for s in _SCRIPT_RANGES
    }
    latin = f"len(regexp_extract_all({col}, '{_LATIN_CLASS}'))"
    best_script = (
        "greatest(" + ", ".join([latin] + list(s_cnt.values())) + ")"
    )
    hits = {
        lg: f"len(list_filter({toks}, tk -> tk IN {_STOPS[lg]}))"
        for lg in _STOPS
    }
    best_stop = "greatest(" + ", ".join(hits.values()) + ")"
    latin_case = (
        f"CASE WHEN {best_stop} = 0 THEN 'und' "
        + " ".join(
            f"WHEN {hits[lg]} = {best_stop} THEN '{lg}'" for lg in _STOPS
        )
        + " ELSE 'und' END"
    )
    script_whens = []
    for s in _SCRIPT_RANGES:
        if s == "zh":
            script_whens.append(
                f"WHEN {s_cnt['zh']} = {best_script} THEN "
                f"(CASE WHEN {s_cnt['ja']} > 0 THEN 'ja' ELSE 'zh' END)"
            )
        else:
            script_whens.append(
                f"WHEN {s_cnt[s]} = {best_script} THEN '{s}'"
            )
    return (
        f"CASE WHEN {best_script} = 0 THEN 'und' "
        f"WHEN {latin} = {best_script} THEN ({latin_case}) "
        + " ".join(script_whens)
        + " ELSE 'und' END"
    )


def _lang_id_sql() -> str:
    return f"""
SELECT lang, lang_guess, count(*)::BIGINT AS n_docs
FROM (SELECT lang, {_lang_guess_expr()} AS lang_guess FROM documents)
GROUP BY lang, lang_guess
"""


@query(oracle=_lang_id_sql())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow kernel, bit-identical to the lang_guess Column spec
    # (differential-tested in tests/test_text_functions.py) — the Column
    # form evaluates 18 interpreted higher-order filters per row
    from doctor_spark.functions.text import lang_guess_udf

    guess = lang_guess_udf()
    return (
        _docs(spark, sf_dir)
        .select(F.col("lang"), guess(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# deterministic hreflang synthesis: five arms — a 3-language cluster,
# a region-tagged pair, an x-default+single (pseudo-tag excluded from
# pairs), a single language (no pairs), and no alternates at all.
_HREFLANG_SYNTH_SQL = """
'<html><head>' ||
CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN '<link rel="alternate" hreflang="en" href="https://s'
              || CAST(doc_id AS VARCHAR(20)) || '.example/en">'
              || '<link rel="alternate" hreflang="fr" href="https://s'
              || CAST(doc_id AS VARCHAR(20)) || '.example/fr">'
              || '<link rel="alternate" hreflang="de" href="https://s'
              || CAST(doc_id AS VARCHAR(20)) || '.example/de">'
  WHEN 1 THEN '<link rel="alternate" hreflang="en-us" href="https://s'
              || CAST(doc_id AS VARCHAR(20)) || '.example/">'
              || '<link rel="alternate" hreflang="ES" href="https://s'
              || CAST(doc_id AS VARCHAR(20)) || '.example/es">'
  WHEN 2 THEN '<link rel="alternate" hreflang="x-default" href="https://s'
              || CAST(doc_id AS VARCHAR(20)) || '.example/">'
              || '<link rel="alternate" hreflang="en" href="https://s'
              || CAST(doc_id AS VARCHAR(20)) || '.example/en">'
  WHEN 3 THEN '<link rel="alternate" hreflang="fr" href="https://s'
              || CAST(doc_id AS VARCHAR(20)) || '.example/fr">'
  ELSE ''
END || '</head><body><p>b</p></body></html>'
"""


# hreflang pairs: each synthesis arm's expected pairs with
# count guards (a degenerate corpus missing an arm emits no row
# on either engine)
@query(oracle="""
WITH n AS (
  SELECT
    (SELECT count(*) FROM documents
      WHERE text IS NOT NULL AND doc_id % 5 = 0) AS n0,
    (SELECT count(*) FROM documents
      WHERE text IS NOT NULL AND doc_id % 5 = 1) AS n1
)
SELECT * FROM (
  SELECT 'de' AS lang_a, 'en' AS lang_b, n0::BIGINT AS n_pages
    FROM n WHERE n0 > 0
  UNION ALL SELECT 'de', 'fr', n0::BIGINT FROM n WHERE n0 > 0
  UNION ALL SELECT 'en', 'fr', n0::BIGINT FROM n WHERE n0 > 0
  UNION ALL SELECT 'en-US', 'es', n1::BIGINT FROM n WHERE n1 > 0
) ORDER BY lang_a, lang_b
""")
def q_hreflang_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel-corpus language-pair inventory from hreflang alternate
    declarations — the planning table a bitext harvest (ParaCrawl/
    CCMatrix-style) runs before fetching any alternate: which language
    pairs exist in the crawl, at what page volume.  One Arrow
    extraction batch (asNondeterministic so Catalyst cannot duplicate
    it into both explode stages — plan-pinned), JVM-side pair
    expansion bounded by a site's locale count, ONE keyed exchange
    with map-side partials.  The oracle replays each synthesis arm's
    expected pairs with count guards, closed-form."""
    from doctor_spark.operators.metadata import language_pair_counts

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr(_HREFLANG_SYNTH_SQL).alias("html"),
    )
    out = language_pair_counts(pages)
    return _present(out.select(
        "lang_a", "lang_b", F.col("n_pages").cast("bigint").alias("n_pages")
    ), "lang_a", "lang_b")


# deterministic bitext synthesis: five arms — a 3-sentence 1-1 run
# (doc_id embedded symmetrically so lengths stay matched), a 2-1 merge
# between anchors, a short insertion that canonically absorbs into a
# 1-2 bead, an empty target (1-0 beads), and a single-sentence pair.
_BITEXT_SRC_SQL = """
CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN 'Alpha alpha ' || CAST(doc_id AS VARCHAR(20))
              || ' one. Bravo bravo two. Charlie charlie three.'
  WHEN 1 THEN 'Anchor number ' || CAST(doc_id AS VARCHAR(20))
              || ' one here. Aa bb. Cc dd. Anchor sentence number two here.'
  WHEN 2 THEN 'Anchor number ' || CAST(doc_id AS VARCHAR(20))
              || ' one here. Anchor sentence number two here.'
  WHEN 3 THEN 'Solo one. Solo two.'
  ELSE 'Only one sentence here.'
END
"""


_BITEXT_TGT_SQL = """
CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN 'Alfa alfa ' || CAST(doc_id AS VARCHAR(20))
              || ' eins. Brava brava zwei. Karla karla drei.'
  WHEN 1 THEN 'Anker nummer ' || CAST(doc_id AS VARCHAR(20))
              || ' eins hier. Aa bb und cc dd zusammen. Anker satz nummer zwei hier.'
  WHEN 2 THEN 'Anker nummer ' || CAST(doc_id AS VARCHAR(20))
              || ' eins hier. Eingefugt. Anker satz nummer zwei hier.'
  WHEN 3 THEN ''
  ELSE 'Nur ein satz hier.'
END
"""


def _bitext_align_sql() -> str:
    """Oracle for the Gale–Church bitext query: each synthesis arm's
    expected beads as UNION ALL literals — the alignments were verified
    against the kernel spec (and their stability across doc_id digit
    widths) in tests/test_bitext.py; no DP in SQL."""
    return """
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 5 AS INT) AS m,
         CAST(doc_id AS VARCHAR(20)) AS i
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, CAST(0 AS INT) AS bead, TRUE AS ok,
       CAST(0 AS INT) AS src_start, CAST(1 AS INT) AS n_src,
       CAST(0 AS INT) AS tgt_start, CAST(1 AS INT) AS n_tgt,
       'Alpha alpha ' || i || ' one.' AS src_text,
       'Alfa alfa ' || i || ' eins.' AS tgt_text
FROM p WHERE m = 0
UNION ALL SELECT doc_id, 1, TRUE, 1, 1, 1, 1,
       'Bravo bravo two.', 'Brava brava zwei.' FROM p WHERE m = 0
UNION ALL SELECT doc_id, 2, TRUE, 2, 1, 2, 1,
       'Charlie charlie three.', 'Karla karla drei.' FROM p WHERE m = 0
UNION ALL SELECT doc_id, 0, TRUE, 0, 1, 0, 1,
       'Anchor number ' || i || ' one here.',
       'Anker nummer ' || i || ' eins hier.' FROM p WHERE m = 1
UNION ALL SELECT doc_id, 1, TRUE, 1, 2, 1, 1,
       'Aa bb. Cc dd.', 'Aa bb und cc dd zusammen.' FROM p WHERE m = 1
UNION ALL SELECT doc_id, 2, TRUE, 3, 1, 2, 1,
       'Anchor sentence number two here.',
       'Anker satz nummer zwei hier.' FROM p WHERE m = 1
UNION ALL SELECT doc_id, 0, TRUE, 0, 1, 0, 1,
       'Anchor number ' || i || ' one here.',
       'Anker nummer ' || i || ' eins hier.' FROM p WHERE m = 2
UNION ALL SELECT doc_id, 1, TRUE, 1, 1, 1, 2,
       'Anchor sentence number two here.',
       'Eingefugt. Anker satz nummer zwei hier.' FROM p WHERE m = 2
UNION ALL SELECT doc_id, 0, TRUE, 0, 1, 0, 0,
       'Solo one.', '' FROM p WHERE m = 3
UNION ALL SELECT doc_id, 1, TRUE, 1, 1, 0, 0,
       'Solo two.', '' FROM p WHERE m = 3
UNION ALL SELECT doc_id, 0, TRUE, 0, 1, 0, 1,
       'Only one sentence here.', 'Nur ein satz hier.' FROM p WHERE m = 4
ORDER BY doc_id, bead
"""


@query(oracle=_bitext_align_sql())
def q_bitext_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gale–Church sentence alignment over parallel page pairs — the
    bead-extraction stage of a ParaCrawl/CCMatrix-style bitext harvest
    that runs AFTER ``hreflang_pairs`` has inventoried which pairs
    exist.  Published 1993 constants, deterministic move-order
    tie-break, bead INDEX output only (no float column).  One Arrow
    batch → explode — map-only, zero shuffles at any scale; an
    over-budget DP pair is an ok=false marker row, never a silent
    truncation.  The oracle replays each synthesis arm's expected
    beads (verified against the kernel spec in tests/test_bitext.py)
    as UNION ALL literals."""
    from doctor_spark.operators.bitext import bitext_beads

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pairs = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr(_BITEXT_SRC_SQL).alias("src_text"),
        F.expr(_BITEXT_TGT_SQL).alias("tgt_text"),
    )
    out = bitext_beads(pairs)
    return _present(out.select(
        "doc_id",
        F.col("bead").cast("int").alias("bead"),
        "ok",
        F.col("src_start").cast("int").alias("src_start"),
        F.col("n_src").cast("int").alias("n_src"),
        F.col("tgt_start").cast("int").alias("tgt_start"),
        F.col("n_tgt").cast("int").alias("n_tgt"),
        "src_text", "tgt_text",
    ), "doc_id", "bead")


# bitext URL pairs: four expected pairs per doc, closed-form
# (stem/lang extraction itself unit-tested in tests/test_urls.py)
@query(oracle="""
WITH p AS (
  SELECT CAST(doc_id AS VARCHAR(20)) AS i
  FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT i, 'https://w.site' || i || '.example' AS site FROM p
)
SELECT site || '/{lang}/page' || i AS stem,
       'de' AS src_lang, site || '/de-DE/page' || i AS src_url,
       'en' AS tgt_lang, site || '/en/page' || i AS tgt_url
FROM s
UNION ALL
SELECT site || '/{lang}/page' || i, 'de', site || '/de-DE/page' || i,
       'fr', site || '/fr/page' || i FROM s
UNION ALL
SELECT site || '/{lang}/page' || i, 'en', site || '/en/page' || i,
       'fr', site || '/fr/page' || i FROM s
UNION ALL
SELECT 'https://{lang}.h' || i || '.example/p/x', 'es',
       'https://es.h' || i || '.example/p/x', 'pt',
       'https://pt.h' || i || '.example/p/x' FROM s
ORDER BY stem, src_lang, tgt_lang
""")
def q_bitext_url_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRAND/ParaCrawl URL-matching bitext candidates — the frontier
    rung of the bitext harvest, BEFORE hreflang (declared) and
    Gale–Church (content): URLs differing only in a language marker
    are paired with no content fetch at all.  Stem/lang are pure
    codegen (functions/urls.py); TWO keyed aggs on the stem, JVM-side
    pair expansion bounded by locale count — no self-join, no window,
    no Python.  Synthesis: each doc explodes into six URLs (en / fr /
    de-DE path markers on one site, es./pt. host markers on another,
    and a marker-less page), so every stem group is complete and the
    oracle replays the four expected pairs per doc closed-form."""
    from doctor_spark.operators.bitext import bitext_url_pairs

    d = _docs_spread(spark, sf_dir).where(F.col("text").isNotNull())
    i = F.col("doc_id").cast("string")
    site = F.concat(F.lit("https://w.site"), i, F.lit(".example"))
    pages = d.select(
        F.explode(
            F.array(
                F.concat(site, F.lit("/en/page"), i),
                F.concat(site, F.lit("/fr/page"), i),
                F.concat(site, F.lit("/de-DE/page"), i),
                F.concat(F.lit("https://es.h"), i, F.lit(".example/p/x")),
                F.concat(F.lit("https://pt.h"), i, F.lit(".example/p/x")),
                F.concat(F.lit("https://plain"), i, F.lit(".example/about")),
            )
        ).alias("url")
    )
    out = bitext_url_pairs(pages)
    return _present(out.select(
        "stem", "src_lang", "src_url", "tgt_lang", "tgt_url"
    ), "stem", "src_lang", "tgt_lang")


def _collocations_sql() -> str:
    """FULL replay of operators/collocations.py on the raw text:
    same token split, bigrams via list_zip, same micro-log10 sum."""
    ml = "CAST(floor(log10({x}) * 1000000 + 0.5) AS BIGINT)"
    return f"""
WITH t AS (
  SELECT {_TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
uni AS (
  SELECT u.w AS w, count(*)::BIGINT AS n_w
  FROM t, unnest(tk) AS u(w) GROUP BY 1
),
tot AS (
  SELECT (SELECT sum(n_w) FROM uni)::BIGINT AS n_uni_total,
         (SELECT sum(len(tk) - 1) FROM t)::BIGINT AS n_big_total
),
big AS (
  SELECT p[1] AS w1, p[2] AS w2, count(*)::BIGINT AS n_pair FROM (
    SELECT unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) AS p FROM t
  ) GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT w1, w2, n_pair,
       ({ml.format(x='n_pair')}
        + 2 * {ml.format(x='n_uni_total')}
        - {ml.format(x='n_big_total')}
        - {ml.format(x='u1.n_w')}
        - {ml.format(x='u2.n_w')})::BIGINT AS pmi_micro
FROM big
JOIN uni u1 ON big.w1 = u1.w
JOIN uni u2 ON big.w2 = u2.w
CROSS JOIN tot
ORDER BY w1, w2
"""


@query(oracle=_collocations_sql())
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation table (Church & Hanks 1990) — corpus-level word
    association: multi-word entities surface as high-PMI pairs,
    tokenizer-merge candidates as high-count high-PMI.  All
    probabilities stay as COUNTS; one micro-log10 per count (libm both
    engines, the LM/entropy idiom) makes pmi_micro a pure int64 sum.
    Corpus path is JVM arrays (zip_with over slices) + ONE keyed count
    per gram order; Python touches only the vocab-sized aggregate.
    The oracle replays the FULL computation on the raw text."""
    from doctor_spark.operators.collocations import collocations

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    out = collocations(d, min_pair=5)
    return _present(out.select(
        "w1", "w2",
        F.col("n_pair").cast("bigint").alias("n_pair"),
        "pmi_micro",
    ), "w1", "w2")


# chunking synthesis: four arms — paragraph packing, an oversize
# paragraph that sentence-splits, an oversize sentence that hard-splits,
# and a blank doc that produces no rows.  max_tokens=6.
_CHUNK_SYNTH_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 'alpha bravo charlie.' || chr(10) || chr(10) ||
              'delta echo.' || chr(10) || chr(10) ||
              'fox golf hotel india juliet kilo.'
  WHEN 1 THEN 'Aa bb cc. Dd ee ff. Gg hh ii jj kk ll mm nn.'
  WHEN 2 THEN 'w1 w2 w3 w4 w5 w6 w7 w8'
  ELSE '   '
END
"""


# chunk spans: each synthesis arm's expected chunks as UNION ALL
# literals (alignments verified in tests/test_chunking.py)
@query(oracle="""
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 4 AS INT) AS m
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, CAST(1 AS INT) AS chunk_idx, CAST(5 AS INT) AS n_tokens,
       'para' AS kind,
       'alpha bravo charlie.' || chr(10) || chr(10) || 'delta echo.'
         AS chunk_text
FROM p WHERE m = 0
UNION ALL SELECT doc_id, 2, 6, 'para',
       'fox golf hotel india juliet kilo.' FROM p WHERE m = 0
UNION ALL SELECT doc_id, 1, 6, 'sent', 'Aa bb cc. Dd ee ff.'
FROM p WHERE m = 1
UNION ALL SELECT doc_id, 2, 6, 'hard', 'Gg hh ii jj kk ll'
FROM p WHERE m = 1
UNION ALL SELECT doc_id, 3, 2, 'hard', 'mm nn.' FROM p WHERE m = 1
UNION ALL SELECT doc_id, 1, 6, 'hard', 'w1 w2 w3 w4 w5 w6'
FROM p WHERE m = 2
UNION ALL SELECT doc_id, 2, 2, 'hard', 'w7 w8' FROM p WHERE m = 2
ORDER BY doc_id, chunk_idx
""")
def q_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-aware chunking — the pretraining/RAG segmentation
    stage: ≤max_tokens chunks breaking at the strongest boundary
    (paragraph → sentence → hard token split), deterministic greedy
    spec in kernels/chunking.py.  One Arrow batch → explode, map-only,
    zero shuffles.  The oracle replays each synthesis arm's expected
    chunks (verified against the kernel spec in tests/test_chunking.py)
    as UNION ALL literals."""
    from doctor_spark.operators.chunking import chunk_documents

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr(_CHUNK_SYNTH_SQL).alias("text"),
    )
    out = chunk_documents(pages, max_tokens=6)
    return _present(out.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "kind", "chunk_text",
    ), "doc_id", "chunk_idx")


# quote synthesis: constant-string arms so every offset is a literal
# (expected spans pinned against the kernel in tests/test_quotes.py)
_QUOTE_SYNTH_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 'He said "the motion is denied" in open court.'
  WHEN 1 THEN '“Curly quoted span here” trailing.'
  WHEN 2 THEN 'A "tiny" quote and "an unclosed one'
  ELSE 'no quotes at all here.'
END
"""


# quote spans: constant-string arms, expected spans as literals
@query(oracle="""
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 4 AS INT) AS m
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, CAST(1 AS INT) AS quote_idx, CAST(8 AS INT) AS start_off,
       CAST(30 AS INT) AS end_off, 'the motion is denied' AS quote_text
FROM p WHERE m = 0
UNION ALL SELECT doc_id, 1, 0, 24, 'Curly quoted span here'
FROM p WHERE m = 1
ORDER BY doc_id, quote_idx
""")
def q_quote_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quotation-span extraction — verbatim quoted passages with
    source offsets, the span table a memorization/contamination audit
    joins against the dedup machinery.  Deterministic pair spec
    (straight toggles, curly must match curly, min-token gate, no
    nesting) in kernels/quotes.py; one Arrow batch → explode,
    map-only, zero shuffles.  The oracle replays each constant-string
    arm's expected spans as UNION ALL literals."""
    from doctor_spark.operators.quotes import quote_spans

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr(_QUOTE_SYNTH_SQL).alias("text"),
    )
    out = quote_spans(pages, min_tokens=3)
    return _present(out.select(
        "doc_id",
        F.col("quote_idx").cast("int").alias("quote_idx"),
        F.col("start_off").cast("int").alias("start_off"),
        F.col("end_off").cast("int").alias("end_off"),
        "quote_text",
    ), "doc_id", "quote_idx")


# citation synthesis: five arms — multi-cite prose, series precedence
# (F. Supp. 2d vs F. Supp. vs F.), Lawyers' Edition prefix pair, no
# citations, and boundary misfires that must stay out.  One snippet
# parsed by BOTH engines; the oracle replays the SAME regex.
_CITE_SYNTH_SQL = """
CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN 'Roe v. Wade, 410 U.S. 113, 93 S. Ct. 705, reh. denied.'
  WHEN 1 THEN 'See Smith, 100 F. Supp. 2d 999; affirmed 250 F.3d 44.'
  WHEN 2 THEN 'Contrast 9 L. Ed. 2d 10 with 1 L. Ed. 2 and 7 F. 44.'
  WHEN 3 THEN 'Plain prose with no citation, page 113 alone.'
  ELSE 'Misfires: x1410 U.S. 113 and 410 U.S. 113a stay out.'
END
"""


def _citations_sql() -> str:
    """IDENTICAL regex (Java∩RE2 subset) replayed in DuckDB over the
    shared synthesis; cite order via list_zip(matches, range)."""
    from doctor_spark.functions.citations import CITATION_PATTERN

    pat = CITATION_PATTERN
    return f"""
WITH d AS (
  SELECT doc_id::BIGINT AS doc_id, ({_CITE_SYNTH_SQL}) AS text
  FROM documents WHERE text IS NOT NULL
),
x AS (
  SELECT doc_id, p[1] AS cite, CAST(p[2] AS INT) AS cite_idx
  FROM (
    SELECT doc_id,
           unnest(list_zip(m, range(0, len(m)))) AS p
    FROM (
      SELECT doc_id, regexp_extract_all(text, '{pat}', 0) AS m FROM d
    )
  )
)
SELECT doc_id, cite_idx,
       CAST(regexp_extract(cite, '{pat}', 1) AS BIGINT) AS volume,
       regexp_extract(cite, '{pat}', 2) AS reporter,
       CAST(regexp_extract(cite, '{pat}', 3) AS BIGINT) AS page
FROM x ORDER BY doc_id, cite_idx
"""


@query(oracle=_citations_sql())
def q_citations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legal citation extraction — the reference's OWN downstream: doctor
    feeds CourtListener, whose flagship analysis (eyecite) is exactly
    this volume/reporter/page cite table.  Java∩RE2 pattern over a
    longest-prefix-first reporter inventory (both engines share
    leftmost-first alternation, verified per series in
    tests/test_citations.py); regexp_extract_all + row-local group
    extraction, map-only, zero shuffles, zero Python.  The oracle runs
    the IDENTICAL regex in DuckDB's RE2 over the same synthesis."""
    from doctor_spark.functions.citations import citation_spans

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr(_CITE_SYNTH_SQL).alias("text"),
    )
    return _present(citation_spans(pages), "doc_id", "cite_idx")


def _vocab_growth_sql() -> str:
    """FULL replay of operators/vocab.py on the raw text: row-local
    distinct, min-doc arrival, floor buckets of 100, running sums."""
    return f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, {_TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
x AS (SELECT doc_id, unnest(list_distinct(tk)) AS term FROM t),
firsts AS (SELECT term, min(doc_id) AS fd FROM x GROUP BY 1),
nt AS (
  SELECT CAST(floor(fd / 100) AS BIGINT) AS bucket,
         count(*)::BIGINT AS n_new_terms
  FROM firsts GROUP BY 1
),
dc AS (
  SELECT CAST(floor(doc_id / 100) AS BIGINT) AS bucket,
         count(*)::BIGINT AS n_docs
  FROM t GROUP BY 1
)
SELECT dc.bucket, dc.n_docs,
       coalesce(nt.n_new_terms, 0)::BIGINT AS n_new_terms,
       CAST(sum(dc.n_docs) OVER (ORDER BY dc.bucket) AS BIGINT)
         AS n_docs_cum,
       CAST(sum(coalesce(nt.n_new_terms, 0)) OVER (ORDER BY dc.bucket)
         AS BIGINT) AS vocab_size
FROM dc LEFT JOIN nt USING (bucket)
ORDER BY bucket
"""


@query(oracle=_vocab_growth_sql())
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve — the corpus-card diagnostic
    for crawl diversity (flattening = template-farm re-crawl; jumps =
    new language/domain).  Term arrival = min doc_id via ONE keyed agg
    over row-locally distinct tokens; the cumulative window runs over
    the BUCKET table, metadata-scale by construction.  The oracle
    replays the full computation (list_distinct, min, floor-bucket,
    running sums) on the raw text."""
    from doctor_spark.operators.vocab import vocab_growth

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return _present(vocab_growth(d, bucket_docs=100), "bucket")


# RAKE synthesis: four constant arms — the paper-style arithmetic doc,
# a max_phrase=3 run-splitting doc with a 9e6 tie broken by phrase
# order, a stopwords-only-plus-one doc, and a no-candidates doc.
# Expected rows are literals pinned against the kernel in
# tests/test_rake.py.
_RAKE_SYNTH_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 'deep learning of deep networks, deep learning wins'
  WHEN 1 THEN 'the quick brown fox jumps over a lazy dog'
  WHEN 2 THEN 'stop the of and to in'
  ELSE '12345 67; ..'
END
"""


def _rake_keywords_sql() -> str:
    """Expected keyword rows per constant arm as literals (pinned
    against the kernel in tests/test_rake.py::TestKernel)."""
    return r"""
WITH d AS (
  SELECT doc_id::BIGINT AS doc_id, CAST(doc_id % 4 AS INT) AS arm
  FROM documents WHERE text IS NOT NULL
),
e AS (
  SELECT * FROM (VALUES
    (0, 0, 'deep learning wins', 7833333, 3, 1),
    (0, 1, 'deep learning',      4833333, 2, 1),
    (0, 2, 'deep networks',      4333333, 2, 1),
    (1, 0, 'jumps over a',       9000000, 3, 1),
    (1, 1, 'quick brown fox',    9000000, 3, 1),
    (1, 2, 'lazy dog',           4000000, 2, 1)
  ) AS t(arm, kw_rank, phrase, score_micro, n_words, n_occurrences)
  UNION ALL
  SELECT 2, 0, 'stop', 1000000, 1, 1
)
SELECT d.doc_id,
       CAST(e.kw_rank AS INT) AS kw_rank,
       e.phrase,
       CAST(e.score_micro AS BIGINT) AS score_micro,
       CAST(e.n_words AS INT) AS n_words,
       CAST(e.n_occurrences AS INT) AS n_occurrences
FROM d JOIN e USING (arm)
ORDER BY doc_id, kw_rank
"""


@query(oracle=_rake_keywords_sql())
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — per-document
    keyphrases from degree/frequency word scores, integer micro
    arithmetic so ranks replay exactly.  Per-document by design: one
    Arrow kernel batch → explode, map-only, zero shuffles at any
    corpus size.  The oracle replays each constant arm's expected
    keyword rows as literals (pinned against the kernel in
    tests/test_rake.py)."""
    from doctor_spark.operators.rake import rake_table

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr(_RAKE_SYNTH_SQL).alias("text"),
    )
    out = rake_table(pages, top_k=5, max_phrase=3)
    return _present(out.select(
        "doc_id",
        F.col("kw_rank").cast("int").alias("kw_rank"),
        "phrase",
        F.col("score_micro").cast("bigint").alias("score_micro"),
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_occurrences").cast("int").alias("n_occurrences"),
    ), "doc_id", "kw_rank")


# Porter-stemming synthesis arms — a word inventory exercising every
# step of the 1980 algorithm (plural strip, -eed/-ed/-ing with the
# recoding rules, y->i, the step-2/3 suffix tables, step-4 removal,
# step-5 e-drop / ll-single).  Constant per residue class so the
# (term -> stem) map is a pinned literal table; _STEM_MAP is asserted
# against the kernel in tests/test_stemming.py (the RAKE/IDN
# discipline: the oracle stays honest because the literals are pinned).
_STEM_ARMS = (
    "caresses ponies ties caress cats connect connected",
    "feed agreed plastered motoring sing connecting connection",
    "conflated troubled sized hopping tanned falling hissing",
    "happy sky relational conditional rational connections",
    "digitizer operator feudalism decisiveness hopefulness",
    "formative formalize electrical electriciti hopeful goodness",
    "revival allowance inference airliner gyroscopic adjustable defensible",
    "probate rate cease controll roll running runs argument arguments",
)


_STEM_MAP = {
    "adjustable": "adjust",
    "agreed": "agre",
    "airliner": "airlin",
    "allowance": "allow",
    "argument": "argument",
    "arguments": "argument",
    "caress": "caress",
    "caresses": "caress",
    "cats": "cat",
    "cease": "ceas",
    "conditional": "condit",
    "conflated": "conflat",
    "connect": "connect",
    "connected": "connect",
    "connecting": "connect",
    "connection": "connect",
    "connections": "connect",
    "controll": "control",
    "decisiveness": "decis",
    "defensible": "defens",
    "digitizer": "digit",
    "electrical": "electr",
    "electriciti": "electr",
    "falling": "fall",
    "feed": "feed",
    "feudalism": "feudal",
    "formalize": "formal",
    "formative": "form",
    "goodness": "good",
    "gyroscopic": "gyroscop",
    "happy": "happi",
    "hissing": "hiss",
    "hopeful": "hope",
    "hopefulness": "hope",
    "hopping": "hop",
    "inference": "infer",
    "motoring": "motor",
    "operator": "oper",
    "plastered": "plaster",
    "ponies": "poni",
    "probate": "probat",
    "rate": "rate",
    "rational": "ration",
    "relational": "relat",
    "revival": "reviv",
    "roll": "roll",
    "running": "run",
    "runs": "run",
    "sing": "sing",
    "sized": "size",
    "sky": "sky",
    "tanned": "tan",
    "ties": "ti",
    "troubled": "troubl",
}


_STEM_SYNTH_SQL = "CASE CAST(doc_id % 8 AS INT) " + " ".join(
    f"WHEN {i} THEN '{arm}'" for i, arm in enumerate(_STEM_ARMS[:-1])
) + f" ELSE '{_STEM_ARMS[-1]}' END"


def _stem_conflation_sql() -> str:
    """Replay of operators/stemming.py over the shared synthesis: token
    split, the PINNED literal (term -> stem) CASE map (asserted against
    the kernel in tests/test_stemming.py), and the same conflation
    rollup (count, distinct forms, sorted comma-joined form list)."""
    whens = " ".join(
        f"WHEN '{w}' THEN '{s}'" for w, s in sorted(_STEM_MAP.items())
    )
    return f"""
WITH p AS (
  SELECT ({_STEM_SYNTH_SQL}) AS text FROM documents
  WHERE text IS NOT NULL
),
x AS (
  SELECT unnest(regexp_split_to_array(
    trim(lower(text)), '{_JAVA_WS_CLASS}+')) AS term
  FROM p
),
m AS (SELECT term, CASE term {whens} END AS stem FROM x)
SELECT stem, count(*)::BIGINT AS n_tokens,
       count(DISTINCT term)::INT AS n_forms,
       array_to_string(list_sort(list(DISTINCT term)), ',') AS forms
FROM m GROUP BY stem ORDER BY stem
"""


@query(oracle=_stem_conflation_sql())
def q_stem_conflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Porter stem-conflation rollup (M. F. Porter 1980, clean-room
    kernels/porter.py): the index-normalization stage between
    tokenization and postings/BM25.  The Python stemmer runs over the
    DISTINCT vocabulary only (IDN distinct-host discipline — cost on
    vocab cardinality, never token count) and the (term, stem) map
    re-attaches by keyed join; the conflation aggregate is bounded by
    inflection-family size.  Oracle: pinned literal CASE map over the
    synthesis arms, asserted against the kernel in
    tests/test_stemming.py."""
    from doctor_spark.operators.stemming import stem_conflation

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
        F.expr(_STEM_SYNTH_SQL).alias("text")
    )
    return _present(stem_conflation(d), "stem")


def _zipf_fit_sql(top_k: int = 1000) -> str:
    """FULL replay of operators/zipf.py zipf_fit: tf, (freq DESC, term)
    row_number, micro-quantized ln, int64 moment sums, and the EXACT
    double parenthesization of the OLS ratios."""
    slope = (
        "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
    )
    return f"""
WITH tf AS (
  SELECT term, count(*)::BIGINT AS freq FROM (
    SELECT unnest({_TOKS}) AS term FROM documents
    WHERE text IS NOT NULL AND length(trim(text)) > 0
  ) GROUP BY 1
),
r AS (
  SELECT row_number() OVER (ORDER BY freq DESC, term ASC) AS rank, freq
  FROM tf
),
q AS (
  SELECT
    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
  FROM r WHERE rank <= {top_k}
),
m AS (
  SELECT count(*)::BIGINT AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM q
)
SELECT n AS n_ranks,
  CAST(floor({slope} * 1000000.0 + 0.5) AS BIGINT) AS slope_micro,
  CAST(floor((CAST(sy AS DOUBLE) - {slope} * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS intercept_micro
FROM m
"""


@query(oracle=_zipf_fit_sql())
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary — OLS of
    ln(freq) on ln(rank), top-1000 ranks (the statistically honest
    HEAD fit, and the int64 overflow bound).  ln is micro-quantized
    immediately; moment sums are int64 (order-free); only the final
    slope/intercept ratios are doubles with a fixed association order
    the oracle mirrors parenthesis-for-parenthesis.  ONE corpus-sized
    exchange (tf agg); ranking window runs on the vocabulary-sized
    aggregate."""
    from doctor_spark.operators.zipf import zipf_fit

    return zipf_fit(_docs(spark, sf_dir))


def _freq_of_freqs_sql() -> str:
    """Replay of freq_of_freqs: tf re-keyed by frequency."""
    return f"""
WITH tf AS (
  SELECT term, count(*)::BIGINT AS freq FROM (
    SELECT unnest({_TOKS}) AS term FROM documents
    WHERE text IS NOT NULL AND length(trim(text)) > 0
  ) GROUP BY 1
)
SELECT freq, count(*)::BIGINT AS n_terms
FROM tf GROUP BY freq ORDER BY freq
"""


@query(oracle=_freq_of_freqs_sql())
def q_freq_of_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count-of-counts: how many vocabulary terms occur
    exactly ``freq`` times — the unseen-mass input to Good-Turing /
    Katz smoothing.  Two stacked keyed aggregates, the second over a
    frequency-histogram-sized table."""
    from doctor_spark.operators.zipf import freq_of_freqs

    return _present(freq_of_freqs(_docs(spark, sf_dir)), "freq")


# clean-split summarization synthesis: every '. ' is a real boundary
# (uppercase opener, no abbreviations/decimals/quotes), so the kernel
# splitter and the oracle's split-and-reappend provably agree — the
# agreement is pinned per arm in tests/test_summary.py.  Arm 0 has a
# 3-sentence chain + an isolated sentence; arm 1 a triangle; arm 2 a
# single edge; arm 3 no edges (emits no rows).
_SUMM_SYNTH_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 'The court granted the motion today. The motion cited three prior rulings. Those rulings shaped the court docket. Unrelated weather news follows here.'
  WHEN 1 THEN 'Counsel filed the appeal brief. The appeal brief raised two claims. Judges reviewed the appeal brief.'
  WHEN 2 THEN 'Spark executes the query plan. The query plan shuffles data.'
  ELSE 'Alpha beta gamma. Delta epsilon zeta. Eta theta iota.'
END
"""


def _textrank_summary_sql(
    k: int = 2, n_iter: int = 4, min_shared: int = 2, enc: int = 1024,
) -> str:
    """Summarization oracle: split-and-reappend sentence replay (exact
    on the clean-split synthesis by construction), [a-z]+ word sets,
    >= min_shared intersection edges within doc, the unrolled integer
    PageRank CTE over encoded (doc_id*enc+sidx) nodes, top-k per doc."""
    cte = [f"""t AS (
  SELECT doc_id::BIGINT AS doc_id, {_SUMM_SYNTH_SQL.strip()} AS text
  FROM documents
),
ss AS (SELECT doc_id, string_split(text, '. ') AS p FROM t),
sl AS (
  SELECT doc_id,
         list_transform(range(1, len(p) + 1),
           i -> CASE WHEN i < len(p) THEN p[i] || '.' ELSE p[i] END) AS s
  FROM ss
),
sn AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(s) + 1),
           i -> {{'sidx': i - 1, 'sent': s[i]}})) AS r
  FROM sl
),
sent_nodes AS (
  SELECT doc_id, r.sidx::INT AS sidx, r.sent AS sent,
         (doc_id * {enc} + r.sidx)::BIGINT AS node,
         list_distinct(regexp_extract_all(lower(r.sent), '[a-z]+')) AS wset
  FROM sn
),
und AS (
  SELECT a.node AS src, b.node AS dst
  FROM sent_nodes a JOIN sent_nodes b
    ON a.doc_id = b.doc_id AND a.sidx < b.sidx
  WHERE len(list_intersect(a.wset, b.wset)) >= {min_shared}
),
eb AS (
  SELECT src, dst FROM und UNION ALL SELECT dst AS src, src AS dst FROM und
),
deg AS (SELECT src, count(*) AS deg FROM eb GROUP BY src),
e AS (SELECT eb.src, eb.dst, deg.deg FROM eb JOIN deg USING (src)),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
r0 AS (SELECT node, 1000000::BIGINT AS rank_micro FROM nodes)"""]
    for i in range(1, n_iter + 1):
        cte.append(f"""r{i} AS (
  SELECT nodes.node,
         (150000 + (85 * coalesce(inf.inflow, 0)) // 100)::BIGINT
           AS rank_micro
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum(r{i - 1}.rank_micro // e.deg) AS inflow
    FROM r{i - 1} JOIN e ON r{i - 1}.node = e.src
    GROUP BY e.dst
  ) inf USING (node)
)""")
    return (
        "WITH " + ",\n".join(cte)
        + f""",
scored AS (
  SELECT (node // {enc})::BIGINT AS doc_id, (node % {enc})::INT AS sidx,
         rank_micro::BIGINT AS rank_micro,
         row_number() OVER (
           PARTITION BY (node // {enc})
           ORDER BY rank_micro DESC, (node % {enc}) ASC
         )::INT AS rank
  FROM r{n_iter}
)
SELECT s.doc_id, s.sidx, s.rank, s.rank_micro, sent_nodes.sent AS sentence
FROM scored s JOIN sent_nodes
  ON s.doc_id = sent_nodes.doc_id AND s.sidx = sent_nodes.sidx
WHERE s.rank <= {k}
"""
    )


@query(oracle=_textrank_summary_sql())
def q_textrank_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document extractive summarization (TextRank §4): integer
    PageRank over each doc's sentence graph (edge = >= 2 shared distinct
    [a-z]+ words), top-2 sentences per doc.  Sentences come from the
    REAL kernel splitter; the synthesis arms are clean-split by
    construction so the oracle's split-and-reappend replay is provably
    identical (pinned in tests/test_summary.py).  Edge build is a
    doc_id-keyed self-join (sentences² per doc, never corpus-sized);
    ranking reuses the link-graph integer PageRank on encoded
    (doc_id*1024+sidx) nodes."""
    from doctor_spark.operators.graph import textrank_summary

    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_SUMM_SYNTH_SQL).alias("text")
    )
    return textrank_summary(d, k=2).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "sidx", "rank", "rank_micro", "sentence",
    )


def _para_lang_sql() -> str:
    """Paragraph-level lang segmentation oracle: unnest on chr(10),
    ASCII-space trim, the parameterized lang_guess mirror per paragraph,
    then the identical plurality/int64-micro rollup."""
    return f"""
WITH paras AS (
  SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS para
  FROM documents WHERE text IS NOT NULL
), pl AS (
  SELECT doc_id, {_lang_guess_expr('para')} AS plang
  FROM paras WHERE len(para) > 0
), counts AS (
  SELECT doc_id, plang, count(*)::BIGINT AS n FROM pl GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY n DESC, plang ASC
  ) AS rn FROM counts
)
SELECT doc_id::BIGINT AS doc_id,
       sum(n)::BIGINT AS n_paras,
       count(*)::BIGINT AS n_langs,
       max(CASE WHEN rn = 1 THEN plang END) AS major_lang,
       ((max(CASE WHEN rn = 1 THEN n END) * 1000000) // sum(n))::BIGINT
         AS major_frac_micro,
       (count(*) > 1) AS mixed
FROM ranked GROUP BY doc_id
"""


@query(oracle=_para_lang_sql())
def q_para_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level language segmentation (CCNet's processing unit,
    Wenzek et al. 2020): newline paragraphs, the shared 27-language
    identifier per paragraph (same single source of truth as lang_id),
    rolled up to a per-doc profile — plurality language (ties by lang
    asc), int64-micro plurality fraction, mixed flag.  Row-local Arrow
    vote + one (doc_id, lang) map-side-combined aggregate; the doc_id
    window and final rollup reuse the partitioning.  Oracle: unnest on
    chr(10) + the parameterized lang_guess SQL mirror per paragraph +
    identical integer rollup."""
    from doctor_spark.operators.paralang import paragraph_langs

    return paragraph_langs(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_paras", "n_langs", "major_lang", "major_frac_micro", "mixed",
    )


def _textrank_sql(k: int = 50, n_iter: int = 4, min_len: int = 3) -> str:
    """TextRank oracle: list_transform adjacent-pair synthesis over the
    shared tokenizer + en-stopword gate, then the unrolled integer
    PageRank CTE (same 150000/85 micro-mass arithmetic as
    _pagerank_sql) over VARCHAR word nodes."""
    sw = ", ".join(f"'{s}'" for s in sorted(_LANG_STOPWORDS["en"]))
    cte = [f"""toks AS (
  SELECT {_TOKS} AS tk FROM documents
),
kept AS (
  SELECT list_filter(tk, t -> regexp_matches(t, '^[a-z]{{{min_len},}}$')
           AND NOT list_contains([{sw}], t)) AS kt
  FROM toks
),
pairs0 AS (
  SELECT unnest(list_transform(range(1, len(kt)),
    i -> {{'u': least(kt[i], kt[i+1]), 'v': greatest(kt[i], kt[i+1])}})) AS p
  FROM kept WHERE len(kt) >= 2
),
e0 AS (
  SELECT DISTINCT p.u AS u, p.v AS v FROM pairs0 WHERE p.u <> p.v
),
eb AS (
  SELECT u AS src, v AS dst FROM e0
  UNION ALL
  SELECT v AS src, u AS dst FROM e0
),
deg AS (SELECT src, count(*) AS deg FROM eb GROUP BY src),
e AS (SELECT eb.src, eb.dst, deg.deg FROM eb JOIN deg USING (src)),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
r0 AS (SELECT node, 1000000::BIGINT AS rank_micro FROM nodes)"""]
    for i in range(1, n_iter + 1):
        cte.append(f"""r{i} AS (
  SELECT nodes.node,
         (150000 + (85 * coalesce(inf.inflow, 0)) // 100)::BIGINT
           AS rank_micro
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum(r{i - 1}.rank_micro // e.deg) AS inflow
    FROM r{i - 1} JOIN e ON r{i - 1}.node = e.src
    GROUP BY e.dst
  ) inf USING (node)
)""")
    return (
        "WITH " + ",\n".join(cte)
        + f"""
SELECT rank, word, rank_micro FROM (
  SELECT row_number() OVER (ORDER BY rank_micro DESC, node ASC)::INT
           AS rank,
         node AS word, rank_micro::BIGINT AS rank_micro
  FROM r{n_iter}
) WHERE rank <= {k}
"""
    )


@query(oracle=_textrank_sql())
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004) corpus keywords: integer-exact
    PageRank over the word co-occurrence graph (adjacent kept-token
    pairs, undirected/unweighted, 0.15/0.85 teleport/damping).  Token
    gate: ^[a-z]{3,}$ minus the shared 'en' stopword inventory (the
    single source of truth the lang_id oracle also splices).  Pair
    generation is row-local array work; the graph is vocabulary-sized;
    top-50 by (rank_micro DESC, word) via TakeOrderedAndProject.
    Oracle: list_transform pair synthesis + the unrolled integer
    PageRank CTE of link_pagerank."""
    from doctor_spark.operators.graph import textrank_keywords

    return textrank_keywords(
        _docs(spark, sf_dir),
        stopwords=tuple(sorted(_LANG_STOPWORDS["en"])),
        min_len=3, k=50, n_iter=4,
    )


# deterministic sentence synthesis: five pieces with KNOWN splits under
# the kernels/sentences.py spec — abbreviation guards (Dr./Mr./Fig.), a
# decimal that must not split, a ?!-run, a quote-closed boundary — so
# the oracle replays per-piece sentence counts/lengths as CASE
# arithmetic and never parses text in SQL.  Pieces A (1 sentence, 24
# chars) and C (2: 8+4) appear on every doc; B (1: 21) on even doc_ids,
# D (2: 36+13) on doc_id%3=0, E (2: 23+9) on doc_id%5=0.
_SENT_SYNTH_SQL = """
'Dr. Smith saw Mr. Jones.'
|| CASE WHEN doc_id % 2 = 0 THEN ' The rate is 3.14 now.' ELSE '' END
|| ' Really?! Yes.'
|| CASE WHEN doc_id % 3 = 0
        THEN ' He said "Stop right there, counsel." Then he left.'
        ELSE '' END
|| CASE WHEN doc_id % 5 = 0
        THEN ' See Fig. 3 for details. It grows.' ELSE '' END
"""


def _sentence_stats_sql() -> str:
    """Oracle for the sentence rollup: pure CASE arithmetic over the
    known per-piece splits (A always 1 sentence/24 chars, C always
    8+4; B/D/E gated on doc_id parity) — no text parsing in SQL."""
    return """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(3 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
              + CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END
              + CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END AS BIGINT)
         AS n_sentences,
       CAST(36 + CASE WHEN doc_id % 2 = 0 THEN 21 ELSE 0 END
               + CASE WHEN doc_id % 3 = 0 THEN 49 ELSE 0 END
               + CASE WHEN doc_id % 5 = 0 THEN 32 ELSE 0 END AS BIGINT)
         AS sum_chars,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 36 ELSE 24 END AS BIGINT)
         AS max_chars
FROM documents
"""


@query(oracle=_sentence_stats_sql())
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation rollup (the stage before sentence-level
    dedup / sequence packing): per doc the sentence count, total and max
    sentence length under the deterministic boundary spec
    (kernels/sentences.py — terminal-run + opener lookahead with an
    abbreviation guard).  Map-only: one Arrow struct batch, zero
    shuffles; the oracle replays each synthesis piece's known split as
    CASE arithmetic."""
    from doctor_spark.functions.text import sentence_stats_udf

    d = _docs(spark, sf_dir)
    s = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        sentence_stats_udf()(F.expr(_SENT_SYNTH_SQL)).alias("s"),
    )
    return s.select("doc_id", "s.n_sentences", "s.sum_chars", "s.max_chars")
