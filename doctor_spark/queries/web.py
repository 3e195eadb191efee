"""Web-ingest queries: URL canonicalization and admission, robots and
blocklist gates, head metadata, JSON-LD, pagination and canonical
clusters, sitemaps, feeds, the fetch schedule, WET/WAT/CDX artifacts,
soft-404s, tables, code blocks, revisits, traps, IDN homographs, layout
clusters and mirrors."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from doctor_spark.queries import _docs, _docs_spread, _present, query
from doctor_spark.queries.linkgraph import _LINK_HTML_SYNTH_SQL, _LINK_SRC_HOST_SQL


# deterministic messy-URL synthesis for the URL-stage queries: one SQL
# snippet, parsed by Spark via F.expr AND spliced verbatim into the DuckDB
# oracle — the two engines can never drift on the input side.  Exercises
# every canonicalization rule: mixed-case scheme/host, www prefix, default
# and non-default ports (incl. :443 under plain http, which must be KEPT),
# tracking params in both positions, trailing slashes, fragments.
_URL_SYNTH_SQL = """
'HtTp' || CASE WHEN doc_id % 4 = 0 THEN 'S' ELSE '' END || '://' ||
CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
'Site' || CAST(doc_id % 23 AS VARCHAR(8)) ||
CASE WHEN doc_id % 5 = 0 THEN '.co.uk' WHEN doc_id % 5 = 1 THEN '.org'
     WHEN doc_id % 5 = 2 THEN '.io' WHEN doc_id % 5 = 3 THEN '.com.au'
     ELSE '.com' END ||
CASE WHEN doc_id % 6 = 0 THEN ':80' WHEN doc_id % 6 = 1 THEN ':8080'
     WHEN doc_id % 6 = 2 THEN ':443' ELSE '' END ||
'/Articles/' || CAST(doc_id AS VARCHAR(20)) ||
CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
CASE WHEN doc_id % 3 = 0
     THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR(20))
     WHEN doc_id % 3 = 1
     THEN '?id=' || CAST(doc_id AS VARCHAR(20)) || '&utm_campaign=x'
     ELSE '' END ||
CASE WHEN doc_id % 2 = 1 THEN '#section-2' ELSE '' END
"""


_URL_BLOCKLIST = ("site0.co.uk", "site7.io", "site16.org")


_BL_VALUES = ", ".join(f"('{d}')" for d in _URL_BLOCKLIST)


def _canon_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doctor_spark.functions.urls import (
        canonicalize_url,
        registrable_domain,
        url_host,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", F.expr(_URL_SYNTH_SQL).alias("url")
    )
    host = url_host(F.col("url"))
    return d.select(
        "doc_id",
        "n_chars",
        canonicalize_url(F.col("url")).alias("canon_url"),
        host.alias("host"),
        registrable_domain(host).alias("domain"),
    )


def _url_canon_cte() -> str:
    """DuckDB mirror of functions/urls.py over the shared _URL_SYNTH_SQL
    input: produces CTE ``canon(doc_id, n_chars, host, domain,
    canon_url)``.  Every regex matches at most once, so DuckDB's
    first-match regexp_replace equals Spark's replace-all."""
    from doctor_spark.functions.urls import SUFFIX_2

    suffixes = ",".join(f"'{s}'" for s in SUFFIX_2)
    return f"""
WITH raw AS (
  SELECT doc_id, n_chars, ({_URL_SYNTH_SQL}) AS url FROM documents
), parts AS (
  SELECT doc_id, n_chars, split_part(url, '#', 1) AS nofrag FROM raw
), comp AS (
  SELECT doc_id, n_chars, nofrag,
         lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)
           AS auth
  FROM parts
), comp2 AS (
  SELECT doc_id, n_chars, nofrag, scheme,
         CASE WHEN lower(split_part(auth, ':', 1)) = '' THEN NULL
              ELSE lower(split_part(auth, ':', 1)) END AS host,
         CASE WHEN contains(auth, ':') THEN split_part(auth, ':', 2)
              ELSE '' END AS port,
         regexp_replace(regexp_extract(nofrag,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+(/[^?]*)?', 1),
             '/+$', '') AS path,
         list_sort(list_filter(
             str_split(regexp_extract(nofrag, '\\?(.*)$', 1), '&'),
             p -> p <> '' AND NOT regexp_matches(p,
                  '^(utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|ref)=')))
           AS params
  FROM comp
), labelled AS (
  SELECT *,
         CASE WHEN host IS NULL THEN NULL ELSE
           CASE WHEN len(list_filter(str_split(host, '.'), x -> x <> '')) > 1
                     AND list_filter(str_split(host, '.'), x -> x <> '')[1]
                         = 'www'
                THEN list_filter(str_split(host, '.'), x -> x <> '')[2:]
                ELSE list_filter(str_split(host, '.'), x -> x <> '') END
         END AS l
  FROM comp2
), canon AS (
  SELECT doc_id, n_chars, host,
         CASE WHEN host IS NULL THEN NULL
              WHEN len(l) = 0 THEN NULL
              WHEN len(l) = 1 THEN l[1]
              WHEN len(l) >= 3
                   AND (l[-2] || '.' || l[-1]) IN ({suffixes})
              THEN l[-3] || '.' || l[-2] || '.' || l[-1]
              ELSE l[-2] || '.' || l[-1] END AS domain,
         CASE WHEN host IS NULL THEN nofrag
              ELSE scheme || '://' || host ||
                   CASE WHEN port <> ''
                             AND NOT (scheme = 'http' AND port = '80')
                             AND NOT (scheme = 'https' AND port = '443')
                        THEN ':' || port ELSE '' END ||
                   path ||
                   CASE WHEN len(params) > 0
                        THEN '?' || array_to_string(params, '&')
                        ELSE '' END
         END AS canon_url
  FROM labelled
)
"""


@query(oracle=_url_canon_cte() + f"""
SELECT c.doc_id::BIGINT AS doc_id, c.canon_url, c.host, c.domain,
       (b.domain IS NOT NULL) AS blocked
FROM canon c LEFT JOIN (VALUES {_BL_VALUES}) b(domain)
  ON c.domain = b.domain
""")
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL stage of a web-corpus pipeline: canonicalize (lowercase
    scheme/host, drop fragment/default port/tracking params, sort query,
    strip trailing slash), registrable domain under a two-label-suffix
    table, and a domain-blocklist flag via a broadcast left join (the
    100 TB form — the blocklist is a dimension table, never a driver-side
    set).  Pure Column expressions: zero Python, zero shuffles besides
    the broadcast."""
    bl = spark.createDataFrame(
        [(d,) for d in _URL_BLOCKLIST], "domain string"
    ).withColumn("hit", F.lit(True))
    out = _canon_urls(spark, sf_dir).join(F.broadcast(bl), "domain", "left")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "canon_url",
        "host",
        "domain",
        F.coalesce(F.col("hit"), F.lit(False)).alias("blocked"),
    )


@query(oracle=_url_canon_cte() + """
, agg AS (
  SELECT domain, count(*) AS n_docs, sum(n_chars) AS sum_chars
  FROM canon GROUP BY domain
), ranked AS (
  SELECT row_number() OVER (ORDER BY n_docs DESC, sum_chars DESC, domain)
           AS rank, domain, n_docs, sum_chars
  FROM agg
)
SELECT rank::BIGINT AS rank, domain, n_docs::BIGINT AS n_docs,
       sum_chars::BIGINT AS sum_chars
FROM ranked WHERE rank <= 10
""")
def q_domain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus stats + deterministic top-10 (docs desc, chars
    desc, domain asc): the quota/reporting aggregate every crawl pipeline
    runs.  ONE keyed exchange on the domain (partial agg map-side); the
    top-k is a single-partition window over the tiny aggregate."""
    from pyspark.sql import Window

    agg = (
        _canon_urls(spark, sf_dir)
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )
    w = Window.orderBy(
        F.col("n_docs").desc(), F.col("sum_chars").desc(), F.col("domain")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "domain",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("sum_chars").cast("bigint").alias("sum_chars"),
        )
    )


# deterministic URL synthesis for the robots gate: one SQL snippet parsed
# by Spark's F.expr AND spliced verbatim into the DuckDB oracle (the
# _URL_SYNTH_SQL discipline).  101 hosts x 7 path shapes exercise every
# rule form the RFC 9309 kernel implements: plain prefixes, longest-match
# Allow-under-Disallow, specific-agent groups that EXCLUDE the '*' group,
# '*' wildcards, '$' end anchors, the ''->'/' path normalization, query
# stripping, and hosts with no robots.txt at all.
_ROBOTS_HOST_MOD = 101


_ROBOTS_URL_SQL = f"""
'https://h' || CAST(doc_id % {_ROBOTS_HOST_MOD} AS VARCHAR(8)) || '.example' ||
CASE CAST(doc_id % 7 AS INT)
  WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR(20))
  WHEN 1 THEN '/private/public/x' || CAST(doc_id AS VARCHAR(20))
  WHEN 2 THEN '/no-train/x' || CAST(doc_id AS VARCHAR(20))
  WHEN 3 THEN ''
  WHEN 4 THEN '/docs/a' || CAST(doc_id AS VARCHAR(20)) || '.pdf'
  WHEN 5 THEN '/tmp' || CAST(doc_id AS VARCHAR(20)) || '/logs/y'
  ELSE '/ok?q=1'
END
"""


# per-host robots.txt templates (host_idx % 4 selects; tpl 3 hosts have NO
# robots row).  The oracle never parses these bodies — it replays the RFC
# verdict per template straight from the spec, so the kernel's parser,
# group selection, and precedence sort are verified independently.
_ROBOTS_TPL = (
    "User-agent: *\nDisallow: /private/\nAllow: /private/public/\n",
    "User-agent: trainingbot\nDisallow: /no-train/\n\n"
    "User-agent: *\nDisallow: /\n",
    "User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp*/logs/\n",
)


def _robots_gate_sql() -> str:
    """Oracle for the robots gate: host/path re-derived from doc_id (so
    Spark's URL split is verified against the synthesis, not replayed) and
    the RFC 9309 verdict hand-written per template from the spec —
    longest-match Allow-under-Disallow (tpl 0), specific-agent group
    excluding the '*' group (tpl 1), wildcard + '$' anchor (tpl 2),
    missing robots.txt ⇒ allowed (tpl 3)."""
    return f"""
WITH p AS (
  SELECT 'h' || CAST(doc_id % {_ROBOTS_HOST_MOD} AS VARCHAR(8)) || '.example'
           AS host,
         CAST((doc_id % {_ROBOTS_HOST_MOD}) % 4 AS INT) AS tpl,
         CASE CAST(doc_id % 7 AS INT)
           WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR(20))
           WHEN 1 THEN '/private/public/x' || CAST(doc_id AS VARCHAR(20))
           WHEN 2 THEN '/no-train/x' || CAST(doc_id AS VARCHAR(20))
           WHEN 3 THEN '/'
           WHEN 4 THEN '/docs/a' || CAST(doc_id AS VARCHAR(20)) || '.pdf'
           WHEN 5 THEN '/tmp' || CAST(doc_id AS VARCHAR(20)) || '/logs/y'
           ELSE '/ok' END AS path,
         ({_ROBOTS_URL_SQL}) AS url
  FROM documents WHERE text IS NOT NULL
)
SELECT url, host, path,
  CASE
    WHEN tpl = 3 THEN TRUE
    WHEN tpl = 0 THEN CASE WHEN path LIKE '/private/public/%' THEN TRUE
                           WHEN path LIKE '/private/%' THEN FALSE
                           ELSE TRUE END
    WHEN tpl = 1 THEN NOT path LIKE '/no-train/%'
    ELSE NOT (regexp_matches(path, '^/.*\\.pdf$')
              OR regexp_matches(path, '^/tmp.*/logs/'))
  END AS allowed
FROM p
"""


@query(oracle=_robots_gate_sql())
def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-politeness gate (RFC 9309) over synthesized page URLs: per-host
    robots.txt bodies are compiled ONCE on the dimension side (the only
    Python stage), the 10^12-row page side gets its verdict from a JVM
    first-match fold (F.aggregate + RLIKE) after a keyed host join.  The
    oracle re-derives host/path from doc_id and replays each template's
    RFC verdict with hand-written spec SQL — parser, URL split, group
    selection, and longest-match precedence are all independently pinned.

    No reference counterpart (doctor receives documents over HTTP); this
    is the web-corpus politeness stage next to functions/urls.py."""
    from doctor_spark.operators.robots import robots_gate

    pages = (
        _docs_spread(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(F.expr(_ROBOTS_URL_SQL).alias("url"))
    )
    hosts = spark.range(_ROBOTS_HOST_MOD).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example")).alias(
            "host"
        ),
        (F.col("id") % 4).alias("tpl"),
    )
    robots = hosts.where(F.col("tpl") < 3).select(
        "host",
        F.when(F.col("tpl") == 0, F.lit(_ROBOTS_TPL[0]))
        .when(F.col("tpl") == 1, F.lit(_ROBOTS_TPL[1]))
        .otherwise(F.lit(_ROBOTS_TPL[2]))
        .alias("robots_body"),
    )
    out = robots_gate(pages, robots, agent="trainingbot/1.0")
    return out.select("url", "host", "path", "allowed")


# deterministic URL synthesis for the blocklist gate (shared F.expr/DuckDB
# snippet): 4 subdomain shapes x 101 apex domains; the blocklist carries a
# parent-domain family (j%5), a deeper more-specific family (bad.*, j%7)
# and non-matching noise, so suffix matching, label-exactness, and
# most-specific-match precedence are all exercised.
_BL_URL_SQL = f"""
'https://' ||
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN ''
  WHEN 1 THEN 'www.'
  WHEN 2 THEN 'bad.'
  ELSE 'x.y.' END
|| 'h' || CAST(doc_id % {_ROBOTS_HOST_MOD} AS VARCHAR(8)) || '.example/p'
|| CAST(doc_id AS VARCHAR(20))
"""


def _domain_blocklist_sql() -> str:
    """Oracle for the blocklist gate: re-derive host + verdict from
    doc_id arithmetic.  Precedence hand-written: the deeper bad.* entry
    (3 labels) beats the apex entry (2 labels) when both match."""
    return f"""
WITH p AS (
  SELECT CAST(doc_id % 4 AS INT) AS v,
         CAST(doc_id % {_ROBOTS_HOST_MOD} AS BIGINT) AS k,
         ({_BL_URL_SQL}) AS url,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN ''
           WHEN 1 THEN 'www.'
           WHEN 2 THEN 'bad.'
           ELSE 'x.y.' END
         || 'h' || CAST(doc_id % {_ROBOTS_HOST_MOD} AS VARCHAR(8))
         || '.example' AS host
  FROM documents WHERE text IS NOT NULL
)
SELECT url, host,
  CASE WHEN v = 2 AND k % 7 = 0
         THEN 'bad.h' || CAST(k AS VARCHAR(8)) || '.example'
       WHEN k % 5 = 0
         THEN 'h' || CAST(k AS VARCHAR(8)) || '.example'
       ELSE NULL END AS blocked_domain,
  (k % 5 = 0 OR (v = 2 AND k % 7 = 0)) AS blocked
FROM p
"""


@query(oracle=_domain_blocklist_sql())
def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1/RefinedWeb-style domain blocklist gate: label-suffix match of
    each page host against a blocked-domains dimension, most specific
    entry wins.  Zero shuffles on the page side — the suffix chain is
    unrolled into depth-indexed broadcast probes (operators/blocklist.py).
    The oracle re-derives host and verdict from doc_id arithmetic, so the
    URL split, suffix logic, and precedence are pinned independently."""
    from doctor_spark.operators.blocklist import domain_blocklist_mark

    pages = (
        _docs_spread(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(F.expr(_BL_URL_SQL).alias("url"))
    )
    r = spark.range(_ROBOTS_HOST_MOD)
    apex = F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example"))
    blocklist = (
        r.where(F.col("id") % 5 == 0).select(apex.alias("domain"))
        .unionByName(
            r.where(F.col("id") % 7 == 0).select(
                F.concat(F.lit("bad."), apex).alias("domain")
            )
        )
        .unionByName(
            r.select(
                F.concat(F.lit("zz"), F.col("id").cast("string"),
                         F.lit(".example")).alias("domain")
            )
        )
    )
    return domain_blocklist_mark(pages, blocklist).select(
        "url", "host", "blocked_domain", "blocked"
    )


def _url_admission_sql() -> str:
    """Oracle for the fused admission recipe: the blocklist and robots
    spec replays composed, blocklist first."""
    return f"""
WITH p AS (
  SELECT 'h' || CAST(doc_id % {_ROBOTS_HOST_MOD} AS VARCHAR(8)) || '.example'
           AS host,
         (doc_id % {_ROBOTS_HOST_MOD}) % 9 = 0 AS blocked,
         CAST((doc_id % {_ROBOTS_HOST_MOD}) % 4 AS INT) AS tpl,
         CASE CAST(doc_id % 7 AS INT)
           WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR(20))
           WHEN 1 THEN '/private/public/x' || CAST(doc_id AS VARCHAR(20))
           WHEN 2 THEN '/no-train/x' || CAST(doc_id AS VARCHAR(20))
           WHEN 3 THEN '/'
           WHEN 4 THEN '/docs/a' || CAST(doc_id AS VARCHAR(20)) || '.pdf'
           WHEN 5 THEN '/tmp' || CAST(doc_id AS VARCHAR(20)) || '/logs/y'
           ELSE '/ok' END AS path,
         ({_ROBOTS_URL_SQL}) AS url
  FROM documents WHERE text IS NOT NULL
), v AS (
  SELECT url, host, blocked,
    CASE
      WHEN tpl = 3 THEN TRUE
      WHEN tpl = 0 THEN CASE WHEN path LIKE '/private/public/%' THEN TRUE
                             WHEN path LIKE '/private/%' THEN FALSE
                             ELSE TRUE END
      WHEN tpl = 1 THEN NOT path LIKE '/no-train/%'
      ELSE NOT (regexp_matches(path, '^/.*\\.pdf$')
                OR regexp_matches(path, '^/tmp.*/logs/'))
    END AS allowed
  FROM p
)
SELECT url, host,
  CASE WHEN blocked THEN 'blocklist'
       WHEN NOT allowed THEN 'robots'
       ELSE NULL END AS reason,
  (NOT blocked AND allowed) AS admitted
FROM v
"""


@query(oracle=_url_admission_sql())
def q_url_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused page-admission recipe (the first stage a FineWeb/
    RefinedWeb-style crawl pipeline runs): domain blocklist THEN robots
    verdict, composed in ONE plan where both dimensions broadcast — the
    10^12-row page side never shuffles.  ``reason`` reports the first
    failing gate (blocklist outranks robots, matching the order a real
    pipeline applies them — a blocked domain is never even fetched).
    Reuses the robots synthesis (101 hosts × 7 paths × 4 templates) plus
    an apex blocklist on k%9==0 hosts, so the oracle is the two spec
    replays composed."""
    from doctor_spark.operators.blocklist import domain_blocklist_mark
    from doctor_spark.operators.robots import robots_gate

    pages = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(F.expr(_ROBOTS_URL_SQL).alias("url"))
    )
    r = spark.range(_ROBOTS_HOST_MOD)
    blocklist = r.where(F.col("id") % 9 == 0).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example"))
        .alias("domain")
    )
    hosts = r.select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example"))
        .alias("host"),
        (F.col("id") % 4).alias("tpl"),
    )
    robots = hosts.where(F.col("tpl") < 3).select(
        "host",
        F.when(F.col("tpl") == 0, F.lit(_ROBOTS_TPL[0]))
        .when(F.col("tpl") == 1, F.lit(_ROBOTS_TPL[1]))
        .otherwise(F.lit(_ROBOTS_TPL[2]))
        .alias("robots_body"),
    )
    marked = domain_blocklist_mark(pages, blocklist).drop("host")
    gated = robots_gate(marked, robots, agent="trainingbot/1.0")
    reason = (
        F.when(F.col("blocked"), F.lit("blocklist"))
        .when(~F.col("allowed"), F.lit("robots"))
        .otherwise(F.lit(None).cast("string"))
    )
    return gated.select(
        "url",
        "host",
        reason.alias("reason"),
        (~F.col("blocked") & F.col("allowed")).alias("admitted"),
    )


# deterministic head-markup synthesis for the page-metadata query (the
# _URL_SYNTH_SQL discipline: ONE snippet parsed by Spark's F.expr AND
# spliced verbatim into the DuckDB oracle).  Six arms by doc_id % 6
# exercise the kernel's rules: lowercase/UPPERCASE tags+attrs, double vs
# single quotes, entity refs in title text AND attribute values,
# whitespace collapse, rel token lists, meta-vs-<time> publication
# precedence, duplicate-field first-wins, comment decoys, valueless
# meta, and the all-absent arm.  The oracle never parses markup — it
# replays the EXPECTED six fields per arm, so parser, RCDATA title
# mode, attr unescaping and precedence are verified independently.
_META_HTML_SYNTH_SQL = """
CASE CAST(doc_id % 6 AS INT)
  WHEN 0 THEN '<html lang="en"><head><title>Doc ' || CAST(doc_id AS VARCHAR(20)) ||
    ' &amp; more</title><meta name="description" content="desc ' ||
    CAST(doc_id AS VARCHAR(20)) || '"><link rel="canonical" href="https://ex.com/d/' ||
    CAST(doc_id AS VARCHAR(20)) || '"><meta property="og:title" content="og ' ||
    CAST(doc_id AS VARCHAR(20)) ||
    '"><meta property="article:published_time" content="2024-01-02T03:04:05Z">' ||
    '</head><body><p>b</p></body></html>'
  WHEN 1 THEN '<HTML LANG=''fr''><HEAD><TITLE>  T   ' || CAST(doc_id AS VARCHAR(20)) ||
    '  </TITLE><META NAME=''Description'' CONTENT=''D ' || CAST(doc_id AS VARCHAR(20)) ||
    '''><META HTTP-EQUIV=''Content-Type'' CONTENT=''text/html; charset=ISO-8859-1''>' ||
    '</HEAD><BODY><TIME DATETIME=''2023-12-31T23:59:59Z''>then</TIME></BODY></HTML>'
  WHEN 2 THEN '<html><head><meta charset="UTF-8">' ||
    '<link rel="alternate canonical" href="https://c.example/p/' ||
    CAST(doc_id AS VARCHAR(20)) || '"><meta property="og:title" content="OG ' ||
    CAST(doc_id AS VARCHAR(20)) || '"></head><body>x</body></html>'
  WHEN 3 THEN '<p>plain ' || CAST(doc_id AS VARCHAR(20)) || '</p>'
  WHEN 4 THEN '<html lang="de"><head><meta name="description" content="first ' ||
    CAST(doc_id AS VARCHAR(20)) ||
    '"><meta name="description" content="second"><title>A ' ||
    CAST(doc_id AS VARCHAR(20)) || '</title><title>B</title>' ||
    '<meta property="article:published_time" content="2020-05-06T07:08:09Z">' ||
    '<meta http-equiv="refresh" content="0; url=https://m.example/' ||
    CAST(doc_id AS VARCHAR(20)) || '">' ||
    '</head><body><time datetime="1999-01-01">old</time></body></html>'
  ELSE '<html lang="pt"><head><!-- <title>not this</title> --><title>R ' ||
    CAST(doc_id AS VARCHAR(20)) || '</title><meta name="description" content="x &amp; y ' ||
    CAST(doc_id AS VARCHAR(20)) || '"><link rel="canonical" href="/relative/' ||
    CAST(doc_id AS VARCHAR(20)) || '"><meta content="no-name"></head></html>'
END
"""


def _page_metadata_sql() -> str:
    """Oracle for the head-metadata query: the six EXPECTED fields
    replayed per synthesis arm (the robots-oracle discipline — no
    markup parsing in SQL, so the kernel's RCDATA title mode, attribute
    unescaping, rel token-list matching, first-wins duplicates and the
    meta-beats-<time> precedence are all verified independently)."""
    return """
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 6 AS INT) AS m,
         CAST(doc_id AS VARCHAR(20)) AS i
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
  CASE m WHEN 0 THEN 'Doc ' || i || ' & more'
         WHEN 1 THEN 'T ' || i
         WHEN 4 THEN 'A ' || i
         WHEN 5 THEN 'R ' || i
         ELSE NULL END AS title,
  CASE m WHEN 0 THEN 'desc ' || i
         WHEN 1 THEN 'D ' || i
         WHEN 4 THEN 'first ' || i
         WHEN 5 THEN 'x & y ' || i
         ELSE NULL END AS description,
  CASE m WHEN 0 THEN 'https://ex.com/d/' || i
         WHEN 2 THEN 'https://c.example/p/' || i
         WHEN 5 THEN '/relative/' || i
         ELSE NULL END AS canonical_url,
  CASE m WHEN 0 THEN 'og ' || i
         WHEN 2 THEN 'OG ' || i
         ELSE NULL END AS og_title,
  CASE m WHEN 0 THEN '2024-01-02T03:04:05Z'
         WHEN 1 THEN '2023-12-31T23:59:59Z'
         WHEN 4 THEN '2020-05-06T07:08:09Z'
         ELSE NULL END AS published_at,
  CASE m WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 4 THEN 'de'
         WHEN 5 THEN 'pt' ELSE NULL END AS lang_attr,
  CASE m WHEN 4 THEN 'https://m.example/' || i ELSE NULL END AS refresh_url,
  CASE m WHEN 1 THEN 'iso-8859-1' WHEN 2 THEN 'utf-8'
         ELSE NULL END AS charset
FROM p
"""


@query(oracle=_page_metadata_sql())
def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction (trafilatura/htmldate's stage): title,
    meta description, canonical link, og:title, publication timestamp
    (meta article:published_time beats <time datetime>), and the <html>
    lang attribute, pulled from tag-soup BINARY html by the RCDATA-aware
    HTMLParser kernel.  Map-only — one Arrow batch, zero shuffles; the
    plan at 10^12 pages is scan → ArrowEvalPython → project.

    No reference counterpart: doctor's HTML path discards <head>
    entirely (doctor/tasks.py:361-370); this is the metadata stage a
    web-corpus pipeline runs next to extraction."""
    from doctor_spark.operators.metadata import page_metadata

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.encode(F.expr(_META_HTML_SYNTH_SQL), "utf-8").alias("html"),
    )
    return page_metadata(pages).drop("html")


# pagination chains: edges re-derived from the synthesis arms,
# walked per url by a hop-bounded recursive CTE (the pointer-
# doubling operator's sequential twin), non-linking pages
# self-headed at index 0
@query(oracle="""
WITH RECURSIVE docs2 AS (
  SELECT 'https://s.example/art/' || CAST(doc_id - doc_id % 4 AS VARCHAR)
           || '/p' || CAST(doc_id % 4 AS VARCHAR) AS url,
         CASE WHEN doc_id % 4 > 0 THEN
           'https://s.example/art/' || CAST(doc_id - doc_id % 4 AS VARCHAR)
           || '/p' || CAST(doc_id % 4 - 1 AS VARCHAR) END AS prev_url
  FROM documents WHERE text IS NOT NULL
), e AS (
  SELECT url AS src, prev_url AS dst FROM docs2 WHERE prev_url IS NOT NULL
),
walk(url, cur, hops) AS (
  SELECT src, dst, 1 FROM e
  UNION ALL
  SELECT w.url, e2.dst, w.hops + 1
  FROM walk w JOIN e e2 ON w.cur = e2.src
  WHERE w.hops < 64
),
deepest AS (
  SELECT url, cur, hops,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY hops DESC) AS rn
  FROM walk
),
res AS (
  SELECT d.url, CASE WHEN s.src IS NULL THEN d.cur END AS final_url,
         CAST(CASE WHEN s.src IS NULL THEN d.hops END AS BIGINT) AS n_hops,
         (s.src IS NULL) AS resolved
  FROM deepest d
  LEFT JOIN (SELECT DISTINCT src FROM e) s ON d.cur = s.src
  WHERE d.rn = 1
)
SELECT p.url AS url,
       CASE WHEN r.url IS NULL THEN p.url ELSE r.final_url END AS head_url,
       coalesce(r.n_hops, 0)::BIGINT AS page_index,
       coalesce(r.resolved, TRUE) AS resolved
FROM docs2 p LEFT JOIN res r ON p.url = r.url
ORDER BY p.url
""")
def q_pagination_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-page-article stitching: every page mapped to the head of
    its ``rel=prev`` chain and its exact position — the grouping that
    reassembles paginated articles into ONE training document.  The
    prev links are declared IN THE HTML (Arrow extraction), the chain
    walk reuses the redirect resolver's pointer doubling (6 keyed
    self-joins for a 64-hop budget, settled rows leave the probe
    side).  Synthesis: 4-page chains; the oracle re-derives the edge
    set from the same arms and walks it with a hop-bounded recursive
    CTE — the iterative operator's sequential twin."""
    from doctor_spark.operators.metadata import pagination_chains

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    art = F.concat(F.lit("https://s.example/art/"),
                   (F.col("doc_id") - F.col("doc_id") % 4).cast("string"))
    url = F.concat(art, F.lit("/p"), (F.col("doc_id") % 4).cast("string"))
    prev_url = F.concat(art, F.lit("/p"),
                        (F.col("doc_id") % 4 - 1).cast("string"))
    html = F.concat(
        F.lit("<html><head><title>t</title>"),
        F.when(
            F.col("doc_id") % 4 > 0,
            F.concat(F.lit('<link rel="prev" href="'), prev_url,
                     F.lit('">')),
        ).otherwise(F.lit("")),
        F.lit("</head><body><p>b</p></body></html>"),
    )
    pages = d.select(
        url.alias("url"), F.encode(html, "utf-8").alias("html")
    )
    out = pagination_chains(pages, max_hops=64)
    return _present(out.select(
        "url", "head_url",
        F.col("page_index").cast("bigint").alias("page_index"),
        "resolved",
    ), "url")


# canonical clusters: the synthesis arms give the declared
# canonical closed-form (extraction itself is proven by the
# page_metadata oracle); the CLUSTERING is replayed independently
@query(oracle="""
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id,
         'https://site.example/a/' ||
             CAST(doc_id - doc_id % 3 AS VARCHAR) AS base_url,
         CAST(doc_id % 3 AS INT) AS arm
  FROM documents WHERE text IS NOT NULL
), pages AS (
  SELECT doc_id,
    CASE arm WHEN 0 THEN base_url
             WHEN 1 THEN base_url || '?print=1'
             ELSE 'https://m.site.example/a/' ||
                  CAST(doc_id - doc_id % 3 AS VARCHAR) END AS url,
    CASE WHEN arm <> 0 THEN base_url ELSE NULL END AS canonical_url
  FROM base
), keyed AS (
  SELECT doc_id, url, coalesce(canonical_url, url) AS cluster_key
  FROM pages
), per AS (
  SELECT cluster_key,
         coalesce(min(CASE WHEN url = cluster_key THEN doc_id END),
                  min(doc_id)) AS keeper_id,
         count(*)::BIGINT AS cluster_size
  FROM keyed GROUP BY 1
)
SELECT doc_id, url, k.cluster_key AS cluster_key,
       (doc_id = keeper_id) AS is_keeper, cluster_size
FROM keyed k JOIN per USING (cluster_key)
ORDER BY doc_id
""")
def q_canonical_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup clustering end-to-end: synthesize base /
    print-view / m-dot variant pages (variants declare ``rel=
    canonical`` to the base IN THE HTML), run the page_metadata Arrow
    extraction, then cluster on the declared target — the cheapest
    dedup rung a crawl runs, before any content hashing.  GroupBy+join
    form (NOT a window — canonical spam is a real hot key; the join is
    AQE-skew-splittable).  Closed-form oracle: every output column is
    CASE arithmetic on doc_id."""
    from doctor_spark.operators.metadata import (
        canonical_clusters,
        page_metadata,
    )

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    base_url = F.concat(
        F.lit("https://site.example/a/"),
        (F.col("doc_id") - F.col("doc_id") % 3).cast("string"),
    )
    url = (
        F.when(F.col("doc_id") % 3 == 0, base_url)
        .when(F.col("doc_id") % 3 == 1, F.concat(base_url, F.lit("?print=1")))
        .otherwise(
            F.concat(
                F.lit("https://m.site.example/a/"),
                (F.col("doc_id") - F.col("doc_id") % 3).cast("string"),
            )
        )
    )
    html = F.concat(
        F.lit('<html><head><title>t</title>'),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(F.lit('<link rel="canonical" href="'), base_url,
                     F.lit('">')),
        ).otherwise(F.lit("")),
        F.lit("</head><body><p>b</p></body></html>"),
    )
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        url.alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    meta = page_metadata(pages).select("doc_id", "url", "canonical_url")
    out = canonical_clusters(meta)
    return _present(out.select(
        "doc_id", "url", "cluster_key", "is_keeper",
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    ), "doc_id")


# host-template lines: FULL replay (split / normalize /
# row-distinct / integer fraction) in the independent engine
@query(oracle="""
WITH base AS (
  SELECT doc_id, 'h' || CAST(doc_id % 13 AS VARCHAR) AS host,
         'Welcome to h' || CAST(doc_id % 13 AS VARCHAR) || chr(10) ||
         CASE WHEN doc_id % 2 = 0
              THEN 'Cookie notice - accept all' || chr(10) ELSE '' END ||
         text AS t
  FROM documents WHERE text IS NOT NULL
), ln AS (
  SELECT DISTINCT doc_id, host,
         trim(regexp_replace(lower(u.ln),
              '[ \t\n\x0b\x0c\r]+', ' ', 'g')) AS line
  FROM base, unnest(string_split(t, chr(10))) AS u(ln)
), pl AS (
  SELECT host, line, count(*)::BIGINT AS n_docs
  FROM ln WHERE line <> '' GROUP BY 1, 2
), hd AS (
  SELECT host, count(*)::BIGINT AS host_docs FROM base GROUP BY 1
)
SELECT pl.host AS host, line, n_docs, host_docs
FROM pl JOIN hd ON pl.host = hd.host
WHERE n_docs * 100 >= host_docs * 60 AND host_docs >= 2
ORDER BY host, line
""")
def q_host_template_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host template-line detection (host-scoped CCNet variant):
    normalized lines on ≥60% of a host's pages — the site-chrome table
    (nav bars, cookie banners, footers) a cleaning pass strips with
    one semi-join.  Row-local distinct (array_distinct BEFORE the
    explode — no dedup exchange), ONE row-volume keyed aggregate on
    (host, line), tiny host-count aggregate joined host-keyed, pure
    integer fraction predicate.  Synthesis plants a per-host welcome
    line on 100% of pages and a cookie line on the even half; the
    oracle replays the whole computation (split/normalize/distinct/
    fraction) in DuckDB — independent engine, not closed-form."""
    from doctor_spark.operators.dedup import host_template_lines

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    host = F.concat(F.lit("h"), (F.col("doc_id") % 13).cast("string"))
    synth = F.concat(
        F.lit("Welcome to "), host, F.lit("\n"),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("Cookie notice - accept all\n")).otherwise(F.lit("")),
        F.col("text"),
    )
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        host.alias("host"), synth.alias("text"),
    )
    out = host_template_lines(pages, min_frac_pct=60, min_host_docs=2)
    return _present(out.select(
        "host", "line",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("host_docs").cast("bigint").alias("host_docs"),
    ), "host", "line")


# deterministic URL-structure synthesis: five path arms (numeric
# article id, hex asset id, uuid, static path, two-placeholder tag
# pagination) spread over seven hosts.
_URLTMPL_SYNTH_SQL = """
'https://h' || CAST(doc_id % 7 AS VARCHAR(2)) || '.example' ||
CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN '/article/' || CAST(doc_id AS VARCHAR(20))
  WHEN 1 THEN '/img/cafe' || lpad(CAST(doc_id AS VARCHAR(20)), 8, '0')
  WHEN 2 THEN '/u/123e4567-e89b-12d3-a456-426614174000'
  WHEN 3 THEN '/about/team'
  ELSE '/tag/' || CAST(doc_id % 10 AS VARCHAR(2)) || '/page/'
       || CAST(doc_id AS VARCHAR(20))
END
"""


# url templates: independent replay — DuckDB rebuilds host,
# template, and the full url per synthesis arm and re-groups
@query(oracle="""
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 5 AS INT) AS m,
         'h' || CAST(doc_id % 7 AS VARCHAR(2)) || '.example' AS host,
         CAST(doc_id AS VARCHAR(20)) AS i
  FROM documents WHERE text IS NOT NULL
), u AS (
  SELECT host,
    CASE m WHEN 0 THEN '/article/{n}' WHEN 1 THEN '/img/{hex}'
           WHEN 2 THEN '/u/{uuid}' WHEN 3 THEN '/about/team'
           ELSE '/tag/{n}/page/{n}' END AS template,
    'https://' || host ||
    CASE m WHEN 0 THEN '/article/' || i
           WHEN 1 THEN '/img/cafe' || lpad(i, 8, '0')
           WHEN 2 THEN '/u/123e4567-e89b-12d3-a456-426614174000'
           WHEN 3 THEN '/about/team'
           ELSE '/tag/' || CAST(doc_id % 10 AS VARCHAR(2)) || '/page/' || i
    END AS url
  FROM p
)
SELECT host, template, count(*)::BIGINT AS n_urls,
       min(url) AS sample_url
FROM u GROUP BY 1, 2
ORDER BY host, template
""")
def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host URL path-template inventory — the site-structure table
    a crawl planner derives from a 10^12-row frontier before spending
    fetch budget (``/article/{n}`` is content, ``/tag/{n}/page/{n}``
    is pagination chaff).  Whole-segment uuid/digits/hex placeholder
    rules in pure codegen (functions/urls.url_path_template), ONE
    keyed aggregate with map-side partials, no window.  The oracle
    replays host, template, and the sample-url min per synthesis arm
    closed-form in DuckDB."""
    from doctor_spark.operators.metadata import url_template_counts

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(F.expr(_URLTMPL_SYNTH_SQL).alias("url"))
    out = url_template_counts(pages)
    return _present(out.select(
        "host", "template",
        F.col("n_urls").cast("bigint").alias("n_urls"),
        "sample_url",
    ), "host", "template")


# deterministic heading synthesis: four arms — a 4-heading outline
# with an entity, a deep-start + empty-dropped arm, a script-excluded
# + implicit-close arm, and a no-headings arm.
_HEADINGS_SYNTH_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN '<h1>Doc ' || CAST(doc_id AS VARCHAR(20))
              || '</h1><h2>Intro</h2><h3>Sub &amp; more</h3><h2>End</h2>'
  WHEN 1 THEN '<h3>Deep ' || CAST(doc_id AS VARCHAR(20))
              || '</h3><h2 id="a"></h2><h1>Top</h1>'
  WHEN 2 THEN '<h1>Real<script>var x = 1;</script> one<h2>Two</h2>'
  ELSE '<p>nothing</p>'
END
"""


# heading outline: each synthesis arm's expected rows as
# UNION ALL literals (alignments verified in tests/test_headings.py)
@query(oracle="""
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 4 AS INT) AS m,
         CAST(doc_id AS VARCHAR(20)) AS i
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, CAST(0 AS INT) AS seq, CAST(1 AS INT) AS level,
       CAST(-1 AS INT) AS parent, 'Doc ' || i AS text,
       FALSE AS truncated
FROM p WHERE m = 0
UNION ALL SELECT doc_id, 1, 2, 0, 'Intro', FALSE FROM p WHERE m = 0
UNION ALL SELECT doc_id, 2, 3, 1, 'Sub & more', FALSE FROM p WHERE m = 0
UNION ALL SELECT doc_id, 3, 2, 0, 'End', FALSE FROM p WHERE m = 0
UNION ALL SELECT doc_id, 0, 3, -1, 'Deep ' || i, FALSE FROM p WHERE m = 1
UNION ALL SELECT doc_id, 1, 1, -1, 'Top', FALSE FROM p WHERE m = 1
UNION ALL SELECT doc_id, 0, 1, -1, 'Real one', FALSE FROM p WHERE m = 2
UNION ALL SELECT doc_id, 1, 2, 0, 'Two', FALSE FROM p WHERE m = 2
ORDER BY doc_id, seq
""")
def q_heading_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h1–h6 heading-outline extraction — the page skeleton a
    structure-aware chunker (split-at-h2, section-title metadata per
    chunk) consumes downstream of boilerplate stripping.  Kernel spec:
    document-order headings, inline markup transparent, entities
    decoded, empties dropped, script/style excluded, parent = nearest
    prior strictly-smaller level.  One Arrow batch → explode —
    map-only, zero shuffles; the per-page heading cap is a counted
    ``truncated`` flag, never silent.  The oracle replays each
    synthesis arm's expected outline (verified against the kernel
    spec in tests/test_headings.py) as UNION ALL literals."""
    from doctor_spark.operators.headings import heading_outline

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.encode(F.expr(_HEADINGS_SYNTH_SQL), "utf-8").alias("html"),
    )
    out = heading_outline(pages)
    return _present(out.select(
        "doc_id",
        F.col("seq").cast("int").alias("seq"),
        F.col("level").cast("int").alias("level"),
        F.col("parent").cast("int").alias("parent"),
        "text", "truncated",
    ), "doc_id", "seq")


# mirror synthesis: three mirror payloads replicated across four m-hosts
# (host index decorrelated from the content arm via doc_id DIV 8), one
# boilerplate string on all thirteen h-hosts (over the cap: dropped from
# pairs but counted in sizes), unique tails.  One snippet parsed by BOTH
# engines (the _URL_SYNTH_SQL discipline).
_MIRROR_CONTENT_SQL = """
CASE CAST(doc_id % 8 AS INT)
  WHEN 0 THEN 'mirror payload zero'
  WHEN 1 THEN 'mirror payload one'
  WHEN 2 THEN 'mirror payload two'
  WHEN 3 THEN 'shared boilerplate footer'
  ELSE 'unique doc ' || CAST(doc_id AS STRING)
END
"""


_MIRROR_HOST_SQL = """
CASE WHEN CAST(doc_id % 8 AS INT) < 3
  THEN 'm' || CAST(CAST(floor(doc_id / 8) AS BIGINT) % 4 AS STRING)
       || '.example'
  ELSE 'h' || CAST(doc_id % 13 AS STRING) || '.example'
END
"""


def _mirror_pairs_sql() -> str:
    """FULL replay of operators/mirrors.py over the shared synthesis:
    (host, fp) distinct, per-host sizes, the host_cap=8 boilerplate
    guard, pair expansion via fp self-join (host1 < host2 — binary
    string order, same as sort_array), integer overlap arithmetic."""
    return f"""
WITH d AS (
  SELECT ({_MIRROR_HOST_SQL}) AS host,
         md5(({_MIRROR_CONTENT_SQL})) AS fp
  FROM documents WHERE text IS NOT NULL
),
hf AS (SELECT DISTINCT host, fp FROM d),
sizes AS (SELECT host, count(*)::BIGINT AS n FROM hf GROUP BY 1),
keep AS (
  SELECT fp FROM hf GROUP BY fp
  HAVING count(*) BETWEEN 2 AND 8
),
x AS (SELECT hf.fp, hf.host FROM hf JOIN keep USING (fp)),
p AS (
  SELECT a.host AS host1, b.host AS host2
  FROM x a JOIN x b ON a.fp = b.fp AND a.host < b.host
),
agg AS (
  SELECT host1, host2, count(*)::BIGINT AS n_shared
  FROM p GROUP BY 1, 2
)
SELECT agg.host1, agg.host2, agg.n_shared,
       s1.n AS n1, s2.n AS n2,
       CAST((agg.n_shared * 1000000) // least(s1.n, s2.n) AS BIGINT)
         AS overlap_micro
FROM agg
JOIN sizes s1 ON agg.host1 = s1.host
JOIN sizes s2 ON agg.host2 = s2.host
ORDER BY host1, host2
"""


@query(oracle=_mirror_pairs_sql())
def q_mirror_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-site detection — host pairs serving identical content
    (software-archive replicas, syndication networks, ccTLD clones),
    the admission-time signal that retires a whole mirror before
    per-page dedup pays for it.  ONE (host, fp) distinct exchange; the
    boilerplate guard drops fingerprints carried by more hosts than
    ``host_cap`` BEFORE the bounded JVM-side pair expansion (no
    self-join on the corpus); integer overlap_micro arithmetic is
    exact in both engines.  The oracle replays the full computation —
    distinct, sizes, cap, pair expansion via fp self-join, least() —
    over the same synthesis."""
    from doctor_spark.operators.mirrors import host_mirror_pairs

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.expr(_MIRROR_HOST_SQL).alias("host"),
        F.expr(_MIRROR_CONTENT_SQL).alias("text"),
    )
    out = host_mirror_pairs(pages, host_cap=8, min_shared=1)
    return _present(out, "host1", "host2")


def _revisit_records_sql() -> str:
    """Oracle for revisit assignment: the original pick replayed as a
    lexicographic min over ``date || '#' || url`` (fixed-width ISO
    dates: identical to struct order; '#' < every url char keeps the
    tie-break consistent), plus the exact revisit-record byte layout
    as string concatenation (empty body, Content-Length: 0)."""
    return r"""
WITH c AS (
  SELECT 'https://cap.example/' || CAST(doc_id % 50 AS STRING) AS url,
         '2024-02-' || lpad(CAST(doc_id % 28 + 1 AS STRING), 2, '0')
           || 'T00:00:00Z' AS date_s,
         md5('capture body ' || CAST(doc_id % 25 AS STRING)) AS digest
  FROM documents WHERE text IS NOT NULL
),
o AS (SELECT digest, min(date_s || '#' || url) AS k FROM c GROUP BY 1),
j AS (
  SELECT c.url, c.date_s, c.digest,
         substr(o.k, 1, strpos(o.k, '#') - 1) AS o_date,
         substr(o.k, strpos(o.k, '#') + 1) AS o_url
  FROM c JOIN o USING (digest)
),
a AS (
  SELECT url, date_s, digest,
         (date_s <> o_date OR url <> o_url) AS is_revisit,
         CASE WHEN date_s <> o_date OR url <> o_url THEN o_url END
           AS refers_url,
         CASE WHEN date_s <> o_date OR url <> o_url THEN o_date END
           AS refers_date
  FROM j
),
r AS (
  SELECT a.*,
    CASE WHEN is_revisit THEN
      'WARC/1.0' || chr(13) || chr(10)
      || 'WARC-Type: revisit' || chr(13) || chr(10)
      || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
      || 'WARC-Date: ' || date_s || chr(13) || chr(10)
      || 'WARC-Record-ID: <urn:uuid:'
      || substr(md5(url || '#' || date_s || '#revisit'), 1, 8) || '-'
      || substr(md5(url || '#' || date_s || '#revisit'), 9, 4) || '-'
      || substr(md5(url || '#' || date_s || '#revisit'), 13, 4) || '-'
      || substr(md5(url || '#' || date_s || '#revisit'), 17, 4) || '-'
      || substr(md5(url || '#' || date_s || '#revisit'), 21, 12)
      || '>' || chr(13) || chr(10)
      || 'WARC-Refers-To-Target-URI: ' || refers_url
      || chr(13) || chr(10)
      || 'WARC-Refers-To-Date: ' || refers_date || chr(13) || chr(10)
      || 'WARC-Payload-Digest: md5:' || digest || chr(13) || chr(10)
      || 'WARC-Profile: http://netpreserve.org/warc/1.1/'
      || 'revisit/identical-payload-digest' || chr(13) || chr(10)
      || 'Content-Length: 0' || chr(13) || chr(10) || chr(13)
      || chr(10) || chr(13) || chr(10) || chr(13) || chr(10)
    END AS rec
  FROM a
)
SELECT url, date_s, digest, is_revisit, refers_url, refers_date,
       md5(rec) AS rec_md5,
       octet_length(encode(rec))::BIGINT AS rec_bytes
FROM r ORDER BY url, date_s, digest
"""


@query(oracle=_revisit_records_sql())
def q_revisit_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC revisit assignment + record bytes — the capture-time dedup
    artifact (WARC 1.1 §6.7.2 identical-payload-digest; what Common
    Crawl writes instead of re-storing identical payloads).  Original
    = min(struct(date, url)) per digest via ONE map-side-combined agg
    (NOT a window: a hot digest would land every capture on one
    reducer) + ONE keyed join; record bytes pure codegen.  Synthesis:
    50 urls × 28 dates with each payload served at TWO urls, so
    same-url recaptures, cross-url dedup, and date/url tie-breaks all
    occur.  The oracle replays the pick via a lexicographic
    ``min(date || '#' || url)`` (fixed-width ISO dates make it
    identical to the struct order) and the exact record byte layout."""
    from doctor_spark.operators.revisit import (
        revisit_assign,
        revisit_records,
    )

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    caps = d.select(
        F.concat(
            F.lit("https://cap.example/"),
            (F.col("doc_id") % 50).cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("2024-02-"),
            F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
            F.lit("T00:00:00Z"),
        ).alias("date_s"),
        F.concat(
            F.lit("capture body "), (F.col("doc_id") % 25).cast("string")
        ).alias("text"),
    )
    out = revisit_records(revisit_assign(caps))
    return _present(out.select(
        "url",
        "date_s",
        "digest",
        "is_revisit",
        "refers_url",
        "refers_date",
        F.md5(F.col("record")).alias("rec_md5"),
        F.length(F.col("record")).cast("bigint").alias("rec_bytes"),
    ), "url", "date_s", "digest")


# Trap-shaped URL synthesis — one SQL snippet parsed by Spark's F.expr
# AND spliced verbatim into the DuckDB oracle (_URL_SYNTH_SQL
# discipline).  Three host tiers: news* (clean: shallow calendar pages
# + 2-param articles), blog* (~1/3 param explosions → above zero,
# below the flag line), archive* (all five trap arms: deep calendar,
# path cycle, deep path, ;jsessionid path param, ?phpsessid query
# param) — so the rollup exercises zero / sub-threshold / flagged.
_TRAP_SYNTH_SQL = """
'http://' ||
CASE WHEN doc_id % 10 < 4
     THEN 'news' || CAST(doc_id % 3 AS VARCHAR(4)) || '.example.org'
     WHEN doc_id % 10 < 7
     THEN 'blog' || CAST(doc_id % 2 AS VARCHAR(4)) || '.example.com'
     ELSE 'archive' || CAST(doc_id % 4 AS VARCHAR(4)) || '.example.net'
END ||
CASE WHEN doc_id % 10 < 4 THEN
  CASE WHEN doc_id % 2 = 0
       THEN '/' || CAST(2010 + doc_id % 10 AS VARCHAR(8)) || '/' ||
            CAST(1 + doc_id % 12 AS VARCHAR(4)) || '/' ||
            CAST(1 + doc_id % 28 AS VARCHAR(4))
       ELSE '/articles/' || CAST(doc_id AS VARCHAR(20)) || '?id=' ||
            CAST(doc_id AS VARCHAR(20)) || '&page=2'
  END
WHEN doc_id % 10 < 7 THEN
  CASE WHEN doc_id % 3 = 0
       THEN '/item?id=' || CAST(doc_id AS VARCHAR(20)) ||
            '&a=1&b=2&c=3&d=4&e=5'
       ELSE '/posts/' || CAST(doc_id AS VARCHAR(20))
  END
ELSE
  CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN '/blog/' || CAST(2010 + doc_id % 10 AS VARCHAR(8)) ||
                '/' || CAST(1 + doc_id % 12 AS VARCHAR(4)) || '/' ||
                CAST(1 + doc_id % 28 AS VARCHAR(4)) || '/post-' ||
                CAST(doc_id AS VARCHAR(20))
    WHEN 1 THEN '/forum/thread/forum/thread/view'
    WHEN 2 THEN '/a/b/c/d/e/f/g/h/' || CAST(doc_id AS VARCHAR(20))
    WHEN 3 THEN '/cart;jsessionid=' ||
                substr(md5(CAST(doc_id AS VARCHAR(20))), 1, 12)
    ELSE '/login?phpsessid=' ||
         substr(md5(CAST(doc_id AS VARCHAR(20))), 1, 16)
  END
END
"""


def _crawler_traps_sql() -> str:
    """FULL replay of operators/traps.py over the shared trap synth:
    lowercase → structural host/path/query parse (the _url_canon_cte
    regexes), per-URL signals, the threshold disjunction, per-host
    rollup with int64-micro trap fraction.  Every regex is Java∩RE2
    and matches at most once where replace is used."""
    return f"""
WITH raw AS (
  SELECT lower(({_TRAP_SYNTH_SQL})) AS u FROM documents
), p AS (
  SELECT u, split_part(u, '#', 1) AS nofrag FROM raw
), parsed AS (
  SELECT u,
    CASE WHEN lower(split_part(regexp_extract(nofrag,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1), ':', 1)) = ''
         THEN NULL
         ELSE lower(split_part(regexp_extract(nofrag,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1), ':', 1)) END AS host,
    regexp_replace(regexp_extract(nofrag,
      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+(/[^?]*)?', 1), '/+$', '') AS path,
    regexp_extract(nofrag, '\\?(.*)$', 1) AS q
  FROM p
), sig AS (
  SELECT host,
    len(list_filter(str_split(path, '/'), s -> s <> '')) AS depth,
    len(list_filter(str_split(path, '/'), s -> s <> ''))
      - len(list_distinct(list_filter(str_split(path, '/'),
            s -> s <> ''))) AS repeat_excess,
    regexp_matches(path,
      '/[0-9]{{4}}/[0-9]{{1,2}}/[0-9]{{1,2}}(/|$)') AS has_calendar,
    len(list_filter(str_split(q, '&'), x -> x <> '')) AS n_params,
    regexp_matches(u,
      '([?&](jsessionid|phpsessid|sessionid|sid)=[0-9a-f]{{8,}}'
      || '|;jsessionid=[0-9a-f]{{8,}})') AS has_session
  FROM parsed
), flagged AS (
  SELECT *,
    (depth >= 8 OR repeat_excess >= 2
     OR (has_calendar AND depth >= 4)
     OR has_session OR n_params >= 6) AS is_trap
  FROM sig
), roll AS (
  SELECT host,
    count(*)::BIGINT AS n_urls,
    sum(CASE WHEN is_trap THEN 1 ELSE 0 END)::BIGINT AS n_trap,
    sum(CASE WHEN depth >= 8 THEN 1 ELSE 0 END)::BIGINT AS n_deep,
    sum(CASE WHEN repeat_excess >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_repeat,
    sum(CASE WHEN has_calendar AND depth >= 4 THEN 1 ELSE 0 END)::BIGINT
      AS n_calendar,
    sum(CASE WHEN has_session THEN 1 ELSE 0 END)::BIGINT AS n_session,
    sum(CASE WHEN n_params >= 6 THEN 1 ELSE 0 END)::BIGINT AS n_paramexp
  FROM flagged WHERE host IS NOT NULL GROUP BY host
)
SELECT host, n_urls, n_trap, n_deep, n_repeat, n_calendar, n_session,
       n_paramexp,
       CAST((n_trap * 1000000) // n_urls AS BIGINT) AS trap_micro,
       ((n_trap * 1000000) // n_urls) >= 500000 AS flagged
FROM roll ORDER BY host
"""


@query(oracle=_crawler_traps_sql())
def q_crawler_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection (the Heritrix/Nutch URL-space pathology
    gate): per-URL trap signals — path depth, repeated-segment excess,
    /YYYY/MM/DD calendar shape, query-param count, session-id minting —
    as pure codegen'd Column expressions (zero Python, zero shuffles),
    rolled up to a per-host quarantine table in ONE map-side-combined
    keyed sum.  The oracle replays the FULL computation (host/path
    parse, every regex, the threshold disjunction, int64-micro trap
    fraction) in DuckDB over the shared synth snippet."""
    from doctor_spark.operators.traps import host_trap_table

    pages = _docs(spark, sf_dir).select(
        F.expr(_TRAP_SYNTH_SQL).alias("url")
    )
    return _present(host_trap_table(pages), "host")


# IDN host arms — constant per residue class so the decoded forms are
# pinnable literals (the RAKE discipline; punycode is not expressible
# in SQL).  Arms: honest IDN (münchen), pure-Cyrillic lookalike,
# mixed-script lookalike, pure-Cyrillic non-colliding (пример.рф),
# the imitated ASCII host, an ASCII near-miss (munchen.de — skeleton
# does NOT fold ü, proving precision), a plain host, and a malformed
# xn-- label (fail-open pass-through).
_IDN_SYNTH_SQL = """
CASE CAST(doc_id % 8 AS INT)
  WHEN 0 THEN 'xn--mnchen-3ya.de'
  WHEN 1 THEN 'xn--80ak6aa92e.com'
  WHEN 2 THEN 'xn--pple-43d.com'
  WHEN 3 THEN 'xn--e1afmkfd.xn--p1ai'
  WHEN 4 THEN 'apple.com'
  WHEN 5 THEN 'munchen.de'
  WHEN 6 THEN 'example.org'
  ELSE 'xn--!!!.com'
END
"""


def _idn_homographs_sql() -> str:
    """Pinned decoded/flag/skeleton rows per constant host arm
    (punycode is not SQL-expressible; tests/test_idn.py pins the same
    values against the kernel).  Skeleton of пример.рф folds only the
    mapped confusables (р→p, и kept, м→m, е→e) — the literal below is
    the exact operator output."""
    return """
WITH arms AS (
  SELECT DISTINCT CAST(doc_id % 8 AS INT) AS arm FROM documents
), e AS (
  SELECT * FROM (VALUES
    (0, 'xn--mnchen-3ya.de', 'münchen.de', TRUE, FALSE,
        'münchen.de', CAST(NULL AS VARCHAR)),
    (1, 'xn--80ak6aa92e.com', 'аррӏе.com', TRUE, FALSE,
        'apple.com', 'apple.com'),
    (2, 'xn--pple-43d.com', 'аpple.com', TRUE, TRUE,
        'apple.com', 'apple.com'),
    (3, 'xn--e1afmkfd.xn--p1ai', 'пример.рф', TRUE, FALSE,
        'пpиmep.pф', CAST(NULL AS VARCHAR)),
    (4, 'apple.com', 'apple.com', FALSE, FALSE,
        'apple.com', CAST(NULL AS VARCHAR)),
    (5, 'munchen.de', 'munchen.de', FALSE, FALSE,
        'munchen.de', CAST(NULL AS VARCHAR)),
    (6, 'example.org', 'example.org', FALSE, FALSE,
        'example.org', CAST(NULL AS VARCHAR)),
    (7, 'xn--!!!.com', 'xn--!!!.com', TRUE, FALSE,
        'xn--!!!.com', CAST(NULL AS VARCHAR))
  ) AS t(arm, host, unicode_host, is_idn, mixed_script, skeleton,
         homograph_of)
)
SELECT host, unicode_host, is_idn, mixed_script, skeleton, homograph_of
FROM arms JOIN e USING (arm) ORDER BY host
"""


@query(oracle=_idn_homographs_sql())
def q_idn_homographs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDN decoding + homograph screening: every xn-- label punycode-
    decoded (clean-room RFC 3492, kernels/punycode.py — differential-
    tested against the stdlib codec on 1500 random strings), TR39-style
    mixed-script flag, confusable skeleton, and the skeleton-collision
    join against the corpus's ASCII hosts (broadcast — the IDN side of
    a real crawl is <1%% of hosts).  Runs on the DISTINCT host table so
    the Python decode cost lands on host cardinality, not page count.
    Oracle: pinned literals per constant arm (tests/test_idn.py pins
    the same rows against the kernel)."""
    from doctor_spark.operators.idn import homograph_pairs, idn_host_table

    hosts = _docs(spark, sf_dir).select(
        F.expr(_IDN_SYNTH_SQL).alias("host")
    )
    t = idn_host_table(hosts.distinct())
    pairs = homograph_pairs(hosts).select(
        F.col("idn_host").alias("host"),
        F.col("ascii_host").alias("homograph_of"),
    )
    return _present(
        t.join(pairs, "host", "left").select(
            "host", "unicode_host", "is_idn", "mixed_script",
            "skeleton", "homograph_of",
        ),
        "host",
    )


# Layout-fingerprint synthesis — arm 0 and 1 share a template with
# different copy (SAME fingerprint: the operator's point), arms 2-4 are
# distinct structures incl. a tag-soup arm.  Note the arms avoid single
# quotes so they splice into both engines' CASE literals verbatim.
# _LAYOUT_FPS pins the kernel's fingerprints (tests/test_layout.py).
_LAYOUT_ARMS = (
    "<html><body><div class=art-x><h1>First story</h1><p>alpha beta"
    "</p><p>gamma</p></div></body></html>",
    "<html><body><div class=art-y><h1>Second story</h1><p>delta epsilon"
    " zeta</p><p>eta</p></div></body></html>",
    "<html><body><div><div class=inner><h1>Nested</h1><p>copy</p></div>"
    "</div></body></html>",
    "<html><body><table><tr><td>cell</td><td>cell2</td></tr></table>"
    "</body></html>",
    "<div><p>unclosed<li>stray</div></td><span>tail</span>",
)


_LAYOUT_FPS = (
    "93d0acdf3f3f25a2a940b500e096a998",
    "93d0acdf3f3f25a2a940b500e096a998",
    "a170a67b72e48d6bd302cf95a49b4472",
    "09c5915179cf4ad381961e875fca82ac",
    "4eaeefc0a2f3b74ca01d78c911f5fa2f",
)


_LAYOUT_SYNTH_SQL = "CASE CAST(doc_id % 5 AS INT) " + " ".join(
    f"WHEN {i} THEN '{arm}'" for i, arm in enumerate(_LAYOUT_ARMS[:-1])
) + f" ELSE '{_LAYOUT_ARMS[-1]}' END"


_LAYOUT_HOST_SQL = (
    "'site' || CAST(doc_id % 7 AS VARCHAR(4)) || '.example.org'"
)


def _layout_clusters_sql() -> str:
    """Replay of q_layout_clusters with the fingerprint as a pinned
    per-arm literal (tests/test_layout.py asserts kernel equality);
    host-set arithmetic replayed in full on the shared synthesis."""
    fps = " ".join(
        f"WHEN {i} THEN '{fp}'" for i, fp in enumerate(_LAYOUT_FPS[:-1])
    )
    return f"""
WITH d AS (
  SELECT CASE CAST(doc_id % 5 AS INT) {fps}
         ELSE '{_LAYOUT_FPS[-1]}' END AS layout_fp,
         ({_LAYOUT_HOST_SQL}) AS host
  FROM documents WHERE text IS NOT NULL
)
SELECT layout_fp, count(*)::BIGINT AS n_pages,
       count(DISTINCT host)::INT AS n_hosts,
       array_to_string(list_sort(list(DISTINCT host))[1:8], ',') AS hosts
FROM d GROUP BY layout_fp ORDER BY layout_fp
"""


@query(oracle=_layout_clusters_sql())
def q_layout_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-family clustering by DOM tag-path fingerprint
    (kernels/layout.py — structural twin of content fingerprinting:
    same template + different copy = same family).  ONE Arrow pass +
    ONE map-side-combined keyed agg; per-family host lists capped (the
    mirror-operator bounded-collect discipline), counts exact.
    Oracle: pinned per-arm fingerprints (asserted against the kernel
    in tests/test_layout.py) + closed-form host-set arithmetic over
    the shared synthesis."""
    from doctor_spark.operators.layout import layout_clusters

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
        F.expr(_LAYOUT_SYNTH_SQL).alias("html"),
        F.expr(_LAYOUT_HOST_SQL).alias("host"),
    )
    return _present(layout_clusters(d), "layout_fp")


# deterministic JSON-LD synthesis: six arms — full NewsArticle with
# Person/Organization objects, a Yoast-style @graph wrapper, a
# top-level array with a type LIST and a bare-string author (plus mime
# params on the type attr), a malformed block followed by a valid one
# (strict-JSON isolation), a non-article-type-only page, and a page
# with no ld+json at all.
_JSONLD_SYNTH_SQL = """
'<html><head><title>t</title>' ||
CASE CAST(doc_id % 6 AS INT)
  WHEN 0 THEN '<script type="application/ld+json">{"@context":"https://schema.org","@type":"NewsArticle","headline":"Ruling ' || CAST(doc_id AS VARCHAR(20)) || '","datePublished":"2024-03-0' || CAST(doc_id % 9 + 1 AS VARCHAR(20)) || 'T08:00:00Z","author":{"@type":"Person","name":"A. Reporter"},"publisher":{"@type":"Organization","name":"The Daily"}}</script>'
  WHEN 1 THEN '<script type="application/ld+json">{"@graph":[{"@type":"Organization","name":"Pub"},{"@type":"NewsArticle","headline":"H-' || CAST(doc_id AS VARCHAR(20)) || '"}]}</script>'
  WHEN 2 THEN '<script type="application/LD+JSON; charset=utf-8">[{"@type":["Thing","BlogPosting"],"headline":"Blog é ' || CAST(doc_id AS VARCHAR(20)) || '","author":"bare-author"}]</script>'
  WHEN 3 THEN '<script type="application/ld+json">{"@type":"NewsArticle","headline":"oops",}</script><script type="application/ld+json">{"@type":"Article","headline":"good ' || CAST(doc_id AS VARCHAR(20)) || '"}</script>'
  WHEN 4 THEN '<script type="application/ld+json">{"@type":"Organization","name":"Acme"}</script>'
  ELSE '<script>var x = 1;</script>'
END || '</head><body><p>body</p></body></html>'
"""


# JSON-LD: each synthesis arm's expected record, closed-form
@query(oracle="""
SELECT doc_id::BIGINT AS doc_id,
       CASE CAST(doc_id % 6 AS INT)
         WHEN 0 THEN 'NewsArticle' WHEN 1 THEN 'NewsArticle'
         WHEN 2 THEN 'BlogPosting' WHEN 3 THEN 'Article'
         ELSE NULL END AS ld_type,
       CASE CAST(doc_id % 6 AS INT)
         WHEN 0 THEN 'Ruling ' || CAST(doc_id AS VARCHAR)
         WHEN 1 THEN 'H-' || CAST(doc_id AS VARCHAR)
         WHEN 2 THEN 'Blog é ' || CAST(doc_id AS VARCHAR)
         WHEN 3 THEN 'good ' || CAST(doc_id AS VARCHAR)
         ELSE NULL END AS headline,
       CASE WHEN doc_id % 6 = 0
            THEN '2024-03-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
                 || 'T08:00:00Z'
            ELSE NULL END AS date_published,
       CASE WHEN doc_id % 6 = 0 THEN 'A. Reporter'
            WHEN doc_id % 6 = 2 THEN 'bare-author'
            ELSE NULL END AS author_name,
       CASE WHEN doc_id % 6 = 0 THEN 'The Daily'
            ELSE NULL END AS publisher_name,
       CASE CAST(doc_id % 6 AS INT) WHEN 3 THEN 2 WHEN 5 THEN 0
            ELSE 1 END::INT AS n_blocks,
       CASE WHEN doc_id % 6 = 3 THEN 1 ELSE 0 END::INT AS n_bad,
       CASE CAST(doc_id % 6 AS INT) WHEN 1 THEN 3 WHEN 3 THEN 1
            WHEN 5 THEN 0 ELSE 1 END::INT AS n_nodes
FROM documents WHERE text IS NOT NULL ORDER BY doc_id
""")
def q_structured_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD extraction (the highest-precision title/date
    source a web corpus has): first article-like ld+json node per page
    — type string-or-list matching, @graph traversal in document
    order, Person/Organization author/publisher shapes, strict
    per-block JSON with malformed blocks counted and isolated.
    Map-only — one Arrow batch, zero shuffles.  The oracle replays
    each synthesis arm's expected record as closed-form CASE
    arithmetic — the kernel is verified against the spec, never
    against itself."""
    from doctor_spark.operators.metadata import structured_data

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.encode(F.expr(_JSONLD_SYNTH_SQL), "utf-8").alias("html"),
    )
    return _present(structured_data(pages), "doc_id")


# deterministic robots-meta synthesis: six head arms (noindex+nofollow,
# uppercase NONE, googlebot-padded NoFollow, noindex then a later
# index/follow that must NOT clear it, non-restrictive all, no meta)
# plus an independent body-position nofollow arm on doc_id % 7 == 5 so
# the cross-tag union is exercised against every head arm.
_ROBOTS_META_SYNTH_SQL = """
'<html><head><title>t</title>' ||
CASE CAST(doc_id % 6 AS INT)
  WHEN 0 THEN '<meta name="robots" content="noindex, nofollow">'
  WHEN 1 THEN '<META NAME="ROBOTS" CONTENT="NONE">'
  WHEN 2 THEN '<meta name="googlebot" content=" NoFollow ">'
  WHEN 3 THEN '<meta name="robots" content="noindex">' ||
              '<meta name="robots" content="index, follow">'
  WHEN 4 THEN '<meta name="robots" content="all">'
  ELSE ''
END || '</head><body><p>body text</p>' ||
CASE WHEN doc_id % 7 = 5 THEN '<meta name=robots content=nofollow>'
     ELSE '' END || '</body></html>'
"""


@query(oracle="""
SELECT doc_id::BIGINT AS doc_id,
       (doc_id % 6 IN (0, 1, 3)) AS noindex,
       (doc_id % 6 IN (0, 1, 2) OR doc_id % 7 = 5) AS nofollow,
       NOT (doc_id % 6 IN (0, 1, 3)) AS index_ok
FROM documents WHERE text IS NOT NULL
""")
def q_robots_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level robots-meta admission gate (REP meta-tag semantics):
    noindex/nofollow flags with most-restrictive union across all
    robots/googlebot metas, head or body; `index_ok = NOT noindex` is
    the corpus-admission verdict between the robots.txt gate and the
    quality gates.  Map-only — one Arrow batch, zero shuffles.  The
    oracle replays each synthesis arm's expected flags as closed-form
    CASE arithmetic — the kernel is verified against the spec, never
    against itself."""
    from doctor_spark.operators.metadata import robots_meta_flags

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.encode(F.expr(_ROBOTS_META_SYNTH_SQL), "utf-8").alias("html"),
    )
    out = robots_meta_flags(pages)
    return out.select(
        "doc_id", "noindex", "nofollow",
        (~F.col("noindex")).alias("index_ok"),
    )


# deterministic <img> markup synthesis for the caption-pairing query:
# 7 image hosts, three admitted arms per page (a modal-vs-minority alt
# on a shared src — 'logo' 1-in-3 loses to 'photo k' — an entity-ref +
# whitespace-noise alt on a whitespace-padded SRC, a srcset-only
# lazy-load arm whose even/odd alt split exercises the (count DESC,
# alt ASC) tie-break) plus decorative empty-alt, relative and data:-URI
# images that must be dropped.
_IMG_SRC_MOD = 7


_IMG_HTML_SYNTH_SQL = f"""
'<html><body><img src="http://img' || CAST(doc_id % {_IMG_SRC_MOD} AS VARCHAR(4)) ||
'.example/a.png" alt="' ||
CASE WHEN doc_id % 3 = 0 THEN 'logo'
     ELSE 'photo ' || CAST(doc_id % {_IMG_SRC_MOD} AS VARCHAR(4)) END ||
'"><IMG alt=" a &amp;  b " SRC=" http://img' ||
CAST((doc_id * 2 + 1) % {_IMG_SRC_MOD} AS VARCHAR(4)) || '.example/b.jpg ">' ||
'<img srcset="http://lazy' || CAST(doc_id % {_IMG_SRC_MOD} AS VARCHAR(4)) ||
'.example/c.png 2x, http://other.example/d.png" alt="lazy ' ||
CAST(doc_id % 2 AS VARCHAR(2)) || '">' ||
'<img src="http://img0.example/deco.png" alt="">' ||
'<img src="/rel.png" alt="rel">' ||
'<img src="data:image/png;base64,AA" alt="data"></body></html>'
"""


def _image_caption_table_sql() -> str:
    """Oracle for the caption-pairing query: the three admitted
    synthesis arms replayed as UNION ALL branches (the decorative
    empty-alt, relative and data:-URI images never produce a branch),
    the same keyed count, and the same modal pick via a
    (count DESC, alt ASC) rank window."""
    return f"""
WITH e AS (
  SELECT 'http://img' || CAST(doc_id % {_IMG_SRC_MOD} AS VARCHAR(4))
           || '.example/a.png' AS src,
         CASE WHEN doc_id % 3 = 0 THEN 'logo'
              ELSE 'photo ' || CAST(doc_id % {_IMG_SRC_MOD} AS VARCHAR(4)) END
           AS alt
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT 'http://img' || CAST((doc_id * 2 + 1) % {_IMG_SRC_MOD} AS VARCHAR(4))
           || '.example/b.jpg',
         'a & b'
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT 'http://lazy' || CAST(doc_id % {_IMG_SRC_MOD} AS VARCHAR(4))
           || '.example/c.png',
         'lazy ' || CAST(doc_id % 2 AS VARCHAR(2))
  FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT src, alt, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM e GROUP BY src, alt
), r AS (
  SELECT src, alt, n_pairs,
         ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY n_pairs DESC, alt ASC) AS rnk
  FROM c
)
SELECT src, alt, n_pairs FROM r WHERE rnk = 1
"""


@query(oracle=_image_caption_table_sql())
def q_image_caption_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image/alt-text pairing table (LAION/DataComp-style caption
    ingest): per image URL the modal alt text with the deterministic
    (count DESC, alt ASC) tie-break.  The single row-volume exchange is
    the keyed (src, alt) count — map-side combined; the rank window
    runs over already-aggregated rows.  The oracle replays the three
    admitted synthesis arms as UNION ALL branches — extraction (srcset
    fallback, entity decode, whitespace collapse, empty-alt drop,
    scheme admission) is verified against the replay, never against
    the kernel."""
    from doctor_spark.operators.metadata import image_caption_table

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.encode(F.expr(_IMG_HTML_SYNTH_SQL), "utf-8").alias("html")
    )
    t = image_caption_table(pages)
    return t.select(
        "src", "alt", F.col("n_pairs").cast("bigint").alias("n_pairs")
    )


# deterministic frontier synthesis for the scheduler: 31 hosts, a
# host-derived RFC 9309 crawl delay, doc_id-derived priorities, and a
# 12-slot per-host cap that BINDS at every sf (≥16 urls/host at sf0.01)
# so the skew-bounding path is exercised, not just declared.
_SCHED_HOSTS = 31


_SCHED_CAP = 12


_SCHED_WORKERS = 8


def _fetch_schedule_sql() -> str:
    """Oracle for the scheduler: the same frontier synthesis, the same
    (priority DESC, url ASC) host window with the 12-slot cap, and the
    same '0x'||substr(md5(host),1,4) worker band."""
    return f"""
WITH f AS (
  SELECT 'https://h' || CAST(doc_id % {_SCHED_HOSTS} AS VARCHAR)
           || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
         'h' || CAST(doc_id % {_SCHED_HOSTS} AS VARCHAR) || '.example'
           AS host,
         doc_id % 17 AS priority,
         (doc_id % {_SCHED_HOSTS}) % 4 * 5 + 1 AS delay
  FROM documents
), r AS (
  SELECT url, host, delay,
         ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY priority DESC, url ASC) AS rn
  FROM f
)
SELECT url, host,
       (('0x' || substr(md5(host), 1, 4))::BIGINT
          % {_SCHED_WORKERS})::BIGINT AS worker,
       (rn - 1)::BIGINT AS seq,
       ((rn - 1) * delay)::BIGINT AS fetch_at_sec
FROM r WHERE rn <= {_SCHED_CAP}
"""


@query(oracle=_fetch_schedule_sql())
def q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware fetch scheduling (frontier → per-worker
    queues): host-keyed md5 worker bands, (priority DESC, url ASC)
    queue positions, crawl-delay fetch slots, and a per-host cap that
    Spark pushes down as WindowGroupLimit so a hot host is a bounded
    top-N, never a full sort.  ONE keyed exchange; the oracle replays
    the same window + the same '0x'||md5 band arithmetic."""
    from doctor_spark.operators.scheduler import fetch_schedule

    d = _docs(spark, sf_dir)
    host = F.concat(
        F.lit("h"),
        (F.col("doc_id") % _SCHED_HOSTS).cast("string"),
        F.lit(".example"),
    )
    frontier = d.select(
        F.concat(
            F.lit("https://"), host, F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        host.alias("host"),
        (F.col("doc_id") % 17).cast("long").alias("priority"),
        ((F.col("doc_id") % _SCHED_HOSTS) % 4 * 5 + 1)
        .cast("long")
        .alias("crawl_delay_sec"),
    )
    s = fetch_schedule(
        frontier, k_workers=_SCHED_WORKERS, per_host_cap=_SCHED_CAP
    )
    return s.select(
        "url", "host", F.col("worker").cast("bigint").alias("worker"),
        "seq", "fetch_at_sec",
    )


def _wet_export_sql() -> str:
    """Oracle for WET serialization: the exact record byte layout
    replayed as string concatenation — same fixed header order, CRLF
    line ends, md5(url)-derived uuid, Content-Length in UTF-8 octets
    (octet_length over the encoded text, NOT the char count)."""
    return r"""
WITH b AS (
  SELECT doc_id,
         'https://doc.example/' || CAST(doc_id AS VARCHAR) AS url,
         '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
           || 'T00:00:00Z' AS date_s,
         text
  FROM documents WHERE text IS NOT NULL
), r AS (
  SELECT doc_id,
         'WARC/1.0' || chr(13) || chr(10)
         || 'WARC-Type: conversion' || chr(13) || chr(10)
         || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
         || 'WARC-Date: ' || date_s || chr(13) || chr(10)
         || 'WARC-Record-ID: <urn:uuid:'
         || substr(md5(url), 1, 8) || '-' || substr(md5(url), 9, 4)
         || '-' || substr(md5(url), 13, 4) || '-'
         || substr(md5(url), 17, 4) || '-' || substr(md5(url), 21, 12)
         || '>' || chr(13) || chr(10)
         || 'Content-Type: text/plain' || chr(13) || chr(10)
         || 'Content-Length: '
         || CAST(octet_length(encode(text)) AS VARCHAR)
         || chr(13) || chr(10) || chr(13) || chr(10)
         || text || chr(13) || chr(10) || chr(13) || chr(10) AS rec
  FROM b
)
SELECT doc_id::BIGINT AS doc_id,
       md5(rec) AS wet_md5,
       octet_length(encode(rec))::BIGINT AS wet_bytes
FROM r
"""


@query(oracle=_wet_export_sql())
def q_wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET serialization (Common Crawl's extracted-text distribution —
    the canonical OUTPUT of the extraction tier): every doc rendered as
    a complete WARC conversion record (CRLF headers, md5(url)-derived
    record id, Content-Length in UTF-8 bytes) entirely in JVM codegen —
    zero Python, zero shuffles.  The query emits per-doc record digest
    and size; the oracle replays the exact byte layout as string
    concatenation in SQL.  The file-shaped sink
    (sources/warc.py:wet_partition_files) is round-trip-tested against
    the sequential parse_wet twin in tests/test_warc.py."""
    from doctor_spark.sources.warc import wet_record

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    url = F.concat(
        F.lit("https://doc.example/"), F.col("doc_id").cast("string")
    )
    date_s = F.concat(
        F.lit("2024-01-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("T00:00:00Z"),
    )
    rec = wet_record(url, date_s, F.col("text"))
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(rec).alias("wet_md5"),
        F.length(rec).cast("bigint").alias("wet_bytes"),
    )


def _cdx_index_sql() -> str:
    """Oracle for the CDX index: SURT replayed from the shared URL
    canonicalization CTE (host labels ``l`` reversed, www already
    dropped there), the 14-digit timestamp arithmetic, and the exact
    CDXJ line byte layout as string concatenation."""
    return (
        _url_canon_cte()
        + r"""
, s AS (
  SELECT lab.doc_id,
         array_to_string(list_reverse(lab.l), ',') || ')' || lower(lab.path)
           || CASE WHEN len(lab.params) > 0
                   THEN '?' || lower(array_to_string(lab.params, '&'))
                   ELSE '' END AS surt,
         '202401' || lpad(CAST(lab.doc_id % 28 + 1 AS VARCHAR), 2, '0')
           || lpad(CAST(lab.doc_id % 24 AS VARCHAR), 2, '0') || '0000' AS ts,
         c.canon_url, d.text
  FROM labelled lab
  JOIN canon c USING (doc_id)
  JOIN documents d USING (doc_id)
  WHERE d.text IS NOT NULL
), r AS (
  SELECT doc_id, surt, ts,
         surt || ' ' || ts || ' {"url": "' || canon_url || '", "digest": "'
           || md5(text) || '", "length": "'
           || CAST(octet_length(encode(text)) AS VARCHAR) || '"}' AS line
  FROM s
)
SELECT doc_id::BIGINT AS doc_id, surt, ts, md5(line) AS cdx_md5,
       octet_length(encode(line))::BIGINT AS cdx_bytes
FROM r
"""
    )


@query(oracle=_cdx_index_sql())
def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX URL index (Common Crawl's cdx-*.gz / wayback's index: the
    artifact every dedup-aware recrawl and every URL lookup service is
    built on): one CDXJ line per capture — SURT key, 14-digit
    timestamp, JSON block with canonical url, payload digest and
    length — built entirely in JVM codegen, then globally sorted on the
    SURT key (one range exchange + per-partition sort), because a CDX's
    defining property is global (surt, ts) order: prefix queries over a
    10^12-row index bind to a contiguous parquet row-group range
    instead of a full scan.  ONE range exchange, zero Python.

    The query emits per-capture digest+size of the exact line bytes;
    the oracle replays SURT (host labels reversed through the shared
    URL-canonicalization CTE), timestamp arithmetic and the byte layout
    as string concatenation."""
    from doctor_spark.functions.urls import canonicalize_url, surt_key

    d = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", "text", F.expr(_URL_SYNTH_SQL).alias("url"))
    )
    ts = F.concat(
        F.lit("202401"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0"),
        F.lit("0000"),
    )
    line = F.concat(
        surt_key(F.col("url")),
        F.lit(" "),
        ts,
        F.lit(' {"url": "'),
        canonicalize_url(F.col("url")),
        F.lit('", "digest": "'),
        F.md5(F.col("text")),
        F.lit('", "length": "'),
        F.octet_length(F.col("text")).cast("string"),
        F.lit('"}'),
    )
    rows = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        surt_key(F.col("url")).alias("surt"),
        ts.alias("ts"),
        F.md5(line).alias("cdx_md5"),
        F.octet_length(line).cast("bigint").alias("cdx_bytes"),
    )
    return rows.orderBy("surt", "ts")


def _wat_export_sql() -> str:
    """Oracle for WAT serialization: per-arm expected title ('d'||id,
    the RCDATA text) and outlink count (3 absolute hrefs on even pages,
    2 on odd — relative/javascript/mailto/name-only drop), then the
    exact JSON envelope + metadata-record byte layout replayed as
    string concatenation (the _wet_export_sql discipline, record id
    from md5(url || '#wat'))."""
    return r"""
WITH b AS (
  SELECT doc_id,
         'https://h' || CAST(doc_id % 997 AS VARCHAR) || '.example/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
           || 'T00:00:00Z' AS date_s,
         'd' || CAST(doc_id AS VARCHAR) AS title,
         CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS outlinks,
         text
  FROM documents WHERE text IS NOT NULL
), p AS (
  SELECT doc_id, url, date_s,
         '{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"'
           || url || '"},"Payload-Metadata":{"Title":"' || title
           || '","Outlinks":' || CAST(outlinks AS VARCHAR)
           || ',"Actual-Content-Length":"'
           || CAST(octet_length(encode(text)) AS VARCHAR)
           || '","Text-Digest":"md5:' || md5(text) || '"}}}' AS payload
  FROM b
), r AS (
  SELECT doc_id,
         'WARC/1.0' || chr(13) || chr(10)
         || 'WARC-Type: metadata' || chr(13) || chr(10)
         || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
         || 'WARC-Date: ' || date_s || chr(13) || chr(10)
         || 'WARC-Record-ID: <urn:uuid:'
         || substr(md5(url || '#wat'), 1, 8) || '-'
         || substr(md5(url || '#wat'), 9, 4) || '-'
         || substr(md5(url || '#wat'), 13, 4) || '-'
         || substr(md5(url || '#wat'), 17, 4) || '-'
         || substr(md5(url || '#wat'), 21, 12) || '>' || chr(13) || chr(10)
         || 'Content-Type: application/json' || chr(13) || chr(10)
         || 'Content-Length: '
         || CAST(octet_length(encode(payload)) AS VARCHAR)
         || chr(13) || chr(10) || chr(13) || chr(10)
         || payload || chr(13) || chr(10) || chr(13) || chr(10) AS rec
  FROM p
)
SELECT doc_id::BIGINT AS doc_id,
       md5(rec) AS wat_md5,
       octet_length(encode(rec))::BIGINT AS wat_bytes
FROM r
"""


@query(oracle=_wat_export_sql())
def q_wat_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT serialization (Common Crawl's page-metadata distribution,
    the third of the WARC/WAT/WET artifact trio): per page, a complete
    ``WARC-Type: metadata`` record whose JSON payload carries the
    extracted title, absolute-outlink count, payload length and text
    digest.  Title and outlinks come from the REAL tag-soup kernels
    (html_meta title RCDATA rules, links absolute-http(s) filter) over
    the shared link-graph page synthesis — one Arrow-batched map stage —
    and the envelope/record framing is pure JVM codegen
    (sources/warc.py:wat_record, the wet_record byte discipline).
    Map-only: zero shuffles at any corpus size.

    The oracle replays each synthesis arm's expected title/outlink
    count (robots discipline) and the exact byte layout."""
    from doctor_spark.operators.graph import _hrefs_udf
    from doctor_spark.operators.metadata import _meta_udf
    from doctor_spark.sources.warc import wat_record

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        "doc_id",
        "text",
        F.encode(F.expr(_LINK_HTML_SYNTH_SQL), "utf-8").alias("html"),
    )
    url = F.concat(
        F.lit("https://"),
        F.expr(_LINK_SRC_HOST_SQL),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    date_s = F.concat(
        F.lit("2024-01-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("T00:00:00Z"),
    )
    # both kernels' results are columns of one projection: the optimizer
    # never inlines the nondeterministic metadata UDF into rec's two
    # references, so each kernel runs once per page, in one Python node
    pages = pages.select(
        "*",
        _meta_udf()(F.col("html")).getField("title").alias("title"),
        F.size(_hrefs_udf()(F.col("html"))).alias("n_links"),
    )
    payload = F.concat(
        F.lit('{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"'),
        url,
        F.lit('"},"Payload-Metadata":{"Title":"'),
        F.col("title"),
        F.lit('","Outlinks":'),
        F.col("n_links").cast("string"),
        F.lit(',"Actual-Content-Length":"'),
        F.octet_length(F.col("text")).cast("string"),
        F.lit('","Text-Digest":"md5:'),
        F.md5(F.col("text")),
        F.lit('"}}}'),
    )
    rec = wat_record(url, date_s, payload)
    return pages.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(rec).alias("wat_md5"),
        F.length(rec).cast("bigint").alias("wat_bytes"),
    )


# deterministic soft-404 synthesis: title/body arms over doc_id % 11.
# Arm 0 is a hard 404 title (title rule wins over its also-matching
# body), arm 1 an 'error page' title with a clean body, arm 2 a short
# 'does not exist' body, arm 3 a LONG body that merely contains the
# not-found phrase (the token-length guard must keep it), arm 4 a short
# 'has been removed' body, arm 5 a mid-title 404 numeral (the
# standalone-number rule — '1404'/'4041' must NOT match); the rest are
# clean, with a digit-free ELSE title so no synthetic id can collide
# with the numeral rule.  One SQL snippet parsed by Spark's F.expr AND
# spliced into the oracle (_URL_SYNTH_SQL discipline).
_SOFT404_TITLE_SQL = """
CASE CAST(doc_id % 11 AS INT)
  WHEN 0 THEN '404 Not Found'
  WHEN 1 THEN 'Error Page - site'
  WHEN 5 THEN 'Page 404 - gone'
  ELSE 'Document page ' || CAST(doc_id % 7 AS VARCHAR(8)) END
"""


_SOFT404_BODY_SQL = """
CASE CAST(doc_id % 11 AS INT)
  WHEN 0 THEN 'The page you requested was not found.'
  WHEN 2 THEN 'This article does not exist.'
  WHEN 3 THEN repeat('lorem ipsum dolor sit amet ', 12) ||
              'the page was not found.'
  WHEN 4 THEN 'Content has been removed.'
  ELSE 'Regular content for document ' || CAST(doc_id AS VARCHAR(20))
       || '.' END
"""


def _soft404_gate_sql() -> str:
    """Oracle for the soft-404 gate: each synthesis arm's expected
    verdict spelled out (title rule wins on arm 0, arms 2/4 flag by
    short body, arm 3's long body stays clean under the token-length
    guard)."""
    return """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(doc_id % 11 AS INT) IN (0, 1, 2, 4, 5) AS soft404,
       CASE WHEN CAST(doc_id % 11 AS INT) IN (0, 1, 5) THEN 'title'
            WHEN CAST(doc_id % 11 AS INT) IN (2, 4) THEN 'body'
            ELSE '' END AS reason
FROM documents
"""


@query(oracle=_soft404_gate_sql())
def q_soft404_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 gate (200-status error pages — the most duplicated
    template class on the web, filtered before dedup by every
    CC-derived corpus): title-rule then short-body-rule, long documents
    that merely DISCUSS missing pages stay clean
    (functions/text.py:soft404_flags).  Pure Column exprs: zero Python,
    zero shuffles — a map over the scan at 10^12 rows.  The oracle
    replays each synthesis arm's expected verdict."""
    from doctor_spark.functions.text import soft404_flags

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr(_SOFT404_TITLE_SQL).alias("title"),
        F.expr(_SOFT404_BODY_SQL).alias("body"),
    )
    flags = soft404_flags(F.col("title"), F.col("body"))
    return d.select("doc_id", flags.getField("soft404").alias("soft404"),
                    flags.getField("reason").alias("reason"))


# deterministic table-markup synthesis: four arms exercise th/td cells
# with entity refs and whitespace (0), tag soup with implicit row/cell
# closes and UPPERCASE tags (1), a nested table that must become its own
# document-order-indexed table without leaking text into the outer cell
# (2), and a no-table page contributing zero rows (3).
_TABLE_HTML_SYNTH_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN '<table><tr><th>H1</th><th> H2 </th></tr><tr><td>a' ||
    CAST(doc_id AS VARCHAR(20)) || '</td><td>b &amp; c</td></tr></table>'
  WHEN 1 THEN '<TABLE><TR><TD> x ' || CAST(doc_id AS VARCHAR(20)) ||
    ' <TD>y<TR><TD>z</TABLE>'
  WHEN 2 THEN '<div><table><tr><td>outer' || CAST(doc_id AS VARCHAR(20)) ||
    '<table><tr><td>inner</td></tr></table></td></tr></table></div>'
  ELSE '<p>plain ' || CAST(doc_id AS VARCHAR(20)) || '</p>'
END
"""


def _table_cells_sql() -> str:
    """Oracle for the web-table query: each synthesis arm's expected
    grid spelled out as UNION ALL literals — no markup parsing in
    SQL."""
    return """
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 4 AS INT) AS m,
         CAST(doc_id AS VARCHAR(20)) AS i
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, CAST(0 AS INT) AS tbl, CAST(0 AS INT) AS rw,
       CAST(0 AS INT) AS cl, 'H1' AS cell FROM p WHERE m = 0
UNION ALL SELECT doc_id, 0, 0, 1, 'H2' FROM p WHERE m = 0
UNION ALL SELECT doc_id, 0, 1, 0, 'a' || i FROM p WHERE m = 0
UNION ALL SELECT doc_id, 0, 1, 1, 'b & c' FROM p WHERE m = 0
UNION ALL SELECT doc_id, 0, 0, 0, 'x ' || i FROM p WHERE m = 1
UNION ALL SELECT doc_id, 0, 0, 1, 'y' FROM p WHERE m = 1
UNION ALL SELECT doc_id, 0, 1, 0, 'z' FROM p WHERE m = 1
UNION ALL SELECT doc_id, 0, 0, 0, 'outer' || i FROM p WHERE m = 2
UNION ALL SELECT doc_id, 1, 0, 0, 'inner' FROM p WHERE m = 2
"""


@query(oracle=_table_cells_sql())
def q_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-table ingest (WebTables/TableBank's stage): every <table> of
    every page as long-form (tbl, row, col, cell) rows — the input a
    relation-extraction or table-QA corpus builder consumes.  Map-only
    with a Generate fan-out: scan → one Arrow batch → explode; zero
    shuffles at any scale.  The oracle replays each synthesis arm's
    expected grid as UNION ALL literals (robots discipline), so the
    browser-lite table model — implicit row/cell closes, nested-table
    isolation, entity decode, whitespace collapse — is pinned
    independently of the kernel.

    No reference counterpart: doctor flattens tables into running text
    (doctor/tasks.py:361-370)."""
    from doctor_spark.operators.tables import table_cells

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.encode(F.expr(_TABLE_HTML_SYNTH_SQL), "utf-8").alias("html"),
    )
    t = table_cells(pages)
    return t.select(
        "doc_id",
        F.col("tbl").cast("int").alias("tbl"),
        F.col("row").cast("int").alias("rw"),
        F.col("col").cast("int").alias("cl"),
        "cell",
    )


# deterministic sitemap-document synthesis: urlset with a full entry
# (entity ref in loc) + a minimal entry + a loc-less entry that must be
# skipped (0), sitemapindex (1), the plain-text one-URL-per-line form
# with a comment line (2), and a non-sitemap HTML page contributing
# zero rows (3).
_SITEMAP_SYNTH_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN '<?xml version="1.0"?><urlset><url><loc>https://s.example/p/' ||
    CAST(doc_id AS VARCHAR(20)) ||
    '?a=1&amp;b=2</loc><lastmod>2026-01-02</lastmod><changefreq>daily</changefreq>' ||
    '<priority>0.8</priority></url><url><loc> https://s.example/q/' ||
    CAST(doc_id AS VARCHAR(20)) ||
    ' </loc></url><url><lastmod>2026-01-01</lastmod></url></urlset>'
  WHEN 1 THEN '<sitemapindex><sitemap><loc>https://s.example/sm/' ||
    CAST(doc_id AS VARCHAR(20)) ||
    '.xml</loc><lastmod>2025-12-31</lastmod></sitemap></sitemapindex>'
  WHEN 2 THEN 'https://t.example/' || CAST(doc_id AS VARCHAR(20)) ||
    CHR(10) || '# comment' || CHR(10) || 'https://t.example/' ||
    CAST(doc_id AS VARCHAR(20)) || '/more'
  ELSE '<html><body>plain ' || CAST(doc_id AS VARCHAR(20)) || '</body></html>'
END
"""


def _sitemap_entries_sql() -> str:
    """Oracle for the sitemap ingest: each synthesis arm's expected
    entries as UNION ALL literals (no XML parsing in SQL)."""
    return """
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 4 AS INT) AS m,
         CAST(doc_id AS VARCHAR(20)) AS i
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, 'urlset' AS kind,
       'https://s.example/p/' || i || '?a=1&b=2' AS loc,
       '2026-01-02' AS lastmod, 'daily' AS changefreq, '0.8' AS priority
FROM p WHERE m = 0
UNION ALL SELECT doc_id, 'urlset', 'https://s.example/q/' || i,
       NULL, NULL, NULL FROM p WHERE m = 0
UNION ALL SELECT doc_id, 'sitemapindex',
       'https://s.example/sm/' || i || '.xml', '2025-12-31', NULL, NULL
FROM p WHERE m = 1
UNION ALL SELECT doc_id, 'text', 'https://t.example/' || i,
       NULL, NULL, NULL FROM p WHERE m = 2
UNION ALL SELECT doc_id, 'text', 'https://t.example/' || i || '/more',
       NULL, NULL, NULL FROM p WHERE m = 2
"""


@query(oracle=_sitemap_entries_sql())
def q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier ingest (sitemaps.org protocol): fetched sitemap
    documents → one row per entry with kind routing (urlset page /
    sitemapindex child / plain-text line).  Map-only with a Generate
    fan-out, zero shuffles.  The oracle replays each synthesis arm's
    expected entries as UNION ALL literals — XML-lite parsing, CDATA/
    entity decode, loc-less skip, namespace handling are pinned by the
    kernel pytests, the CONTRACT here.

    No reference counterpart (doctor receives documents over HTTP);
    sits next to the robots gate on the crawl side."""
    from doctor_spark.operators.sitemaps import sitemap_entries

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.encode(F.expr(_SITEMAP_SYNTH_SQL), "utf-8").alias("html"),
    )
    return sitemap_entries(pages)


# deterministic feed-document synthesis: RSS with a CDATA title +
# pubDate + a title-only item (0), Atom where rel=alternate must beat a
# rel=self link and updated fills published (1), RSS item with entity
# title and dc:date fallback (2), non-feed HTML contributing zero rows
# (3).
_FEED_SYNTH_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN '<rss version="2.0"><channel><title>chan</title>' ||
    '<item><title><![CDATA[News ' || CAST(doc_id AS VARCHAR(20)) ||
    ' & more]]></title><link>https://f.example/' || CAST(doc_id AS VARCHAR(20)) ||
    '</link><pubDate>Tue, 18 Aug 2026 06:00:00 GMT</pubDate></item>' ||
    '<item><title>only-title ' || CAST(doc_id AS VARCHAR(20)) ||
    '</title></item></channel></rss>'
  WHEN 1 THEN '<feed><title>a</title><entry><title>E ' ||
    CAST(doc_id AS VARCHAR(20)) ||
    '</title><link rel="self" href="https://a.example/self"/>' ||
    '<link rel="alternate" href="https://a.example/e/' ||
    CAST(doc_id AS VARCHAR(20)) ||
    '"/><updated>2026-08-18T00:00:00Z</updated></entry></feed>'
  WHEN 2 THEN '<rss><channel><item><title>T &amp; ' ||
    CAST(doc_id AS VARCHAR(20)) ||
    '</title><dc:date>2026-08-1' || CAST(doc_id % 10 AS VARCHAR(2)) ||
    '</dc:date></item></channel></rss>'
  ELSE '<html><body>page ' || CAST(doc_id AS VARCHAR(20)) || '</body></html>'
END
"""


def _feed_entries_sql() -> str:
    """Oracle for the feed ingest: expected entries per synthesis arm as
    UNION ALL literals (no XML parsing in SQL)."""
    return """
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 4 AS INT) AS m,
         CAST(doc_id AS VARCHAR(20)) AS i,
         CAST(doc_id % 10 AS VARCHAR(2)) AS d
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, 'rss' AS kind, 'News ' || i || ' & more' AS title,
       'https://f.example/' || i AS link,
       'Tue, 18 Aug 2026 06:00:00 GMT' AS published
FROM p WHERE m = 0
UNION ALL SELECT doc_id, 'rss', 'only-title ' || i, NULL, NULL
FROM p WHERE m = 0
UNION ALL SELECT doc_id, 'atom', 'E ' || i, 'https://a.example/e/' || i,
       '2026-08-18T00:00:00Z' FROM p WHERE m = 1
UNION ALL SELECT doc_id, 'rss', 'T & ' || i, NULL, '2026-08-1' || d
FROM p WHERE m = 2
"""


@query(oracle=_feed_entries_sql())
def q_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed ingest (CC-News' discovery stage): fetched RSS 2.0 / Atom
    documents → one row per item/entry with (kind, title, link,
    published).  Map-only with a Generate fan-out, zero shuffles —
    completing the discovery trio (links → sitemaps → feeds).  The
    oracle replays each synthesis arm's expected entries as UNION ALL
    literals; CDATA titles, rel=alternate precedence, the
    pubDate→published→updated→date fallback and the no-title-no-link
    skip are pinned by the kernel pytests.

    No reference counterpart (doctor receives documents over HTTP)."""
    from doctor_spark.operators.feeds import feed_entries

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.encode(F.expr(_FEED_SYNTH_SQL), "utf-8").alias("html"),
    )
    return feed_entries(pages)


def _frontier_admission_sql() -> str:
    """Oracle for the fused frontier step: candidate rows, hosts,
    blocklist verdicts and the seen arithmetic replayed per arm."""
    return """
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 4 AS INT) AS m,
         CAST(doc_id AS VARCHAR(20)) AS i
  FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT doc_id, 'https://s.example/p/' || i || '?a=1&b=2' AS url,
         's.example' AS host, FALSE AS blocked,
         (doc_id % 8 = 0) AS seen
  FROM p WHERE m = 0
  UNION ALL SELECT doc_id, 'https://s.example/q/' || i, 's.example',
         FALSE, FALSE FROM p WHERE m = 0
  UNION ALL SELECT doc_id, 'https://t.example/' || i, 't.example',
         TRUE, FALSE FROM p WHERE m = 2
  UNION ALL SELECT doc_id, 'https://t.example/' || i || '/more',
         't.example', TRUE, FALSE FROM p WHERE m = 2
)
SELECT doc_id, url, host, blocked, seen,
       (NOT blocked AND NOT seen) AS admitted
FROM c
"""


@query(oracle=_frontier_admission_sql())
def q_frontier_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused frontier-scheduler step: sitemap ingest → page rows
    only (child sitemaps routed away by kind) → host extraction →
    UT1-style blocklist verdict → already-crawled mark — one plan where
    the blocklist probes broadcast (zero corpus-side shuffle) and the
    seen-set mark is ONE keyed left join on the canonical loc (the only
    row-volume exchange; at real scale the seen set is a 10^12-row
    table, so the join is keyed, not broadcast — AQE may still
    broadcast it at test scale).  ``admitted = NOT blocked AND NOT
    seen`` — the FineWeb/Nutch generate-step in one query.

    Oracle: entries, hosts, blocklist suffix verdicts and the seen
    arithmetic replayed in SQL over the shared synthesis."""
    from doctor_spark.operators.blocklist import domain_blocklist_mark
    from doctor_spark.operators.sitemaps import sitemap_entries

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.encode(F.expr(_SITEMAP_SYNTH_SQL), "utf-8").alias("html"),
    )
    cand = (
        sitemap_entries(pages)
        .where(F.col("kind") != "sitemapindex")
        .select("doc_id", F.col("loc").alias("url"))
    )
    bl = spark.createDataFrame([("t.example",)], "domain string")
    marked = domain_blocklist_mark(cand, bl)
    # the crawl's seen set: the arm-0 primary locs of every 8th document
    seen = d.where((F.col("doc_id") % 8) == 0).select(
        F.concat(
            F.lit("https://s.example/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?a=1&b=2"),
        ).alias("url"),
        F.lit(True).alias("seen"),
    )
    seen_b = F.coalesce(F.col("seen"), F.lit(False))
    return marked.join(seen, "url", "left").select(
        "doc_id",
        "url",
        "host",
        "blocked",
        seen_b.alias("seen"),
        ((~F.col("blocked")) & (~seen_b)).alias("admitted"),
    )


# deterministic raw-date synthesis: the wild formats the ingest fields
# actually carry, plus garbage that must stay NULL.  The oracle replays
# the EXPECTED UTC date per arm (robots discipline) — arm 2 pins the
# cross-offset day-roll (+05:30 01:30 is the PREVIOUS UTC day).
_DATE_SYNTH_SQL = """
CASE CAST(doc_id % 6 AS INT)
  WHEN 0 THEN '2026-08-19T06:30:00Z'
  WHEN 1 THEN 'Tue, 18 Aug 2026 23:59:59 GMT'
  WHEN 2 THEN '2026-08-19T01:30:00+05:30'
  WHEN 3 THEN '2026/08/0' || CAST(doc_id % 9 + 1 AS VARCHAR(2))
  WHEN 4 THEN ' 2026-08-19 '
  ELSE 'not a date ' || CAST(doc_id AS VARCHAR(20))
END
"""


def _date_normalize_sql() -> str:
    """Oracle for the date cast: raw value + EXPECTED UTC day per arm."""
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  ({_DATE_SYNTH_SQL}) AS raw,
  CASE CAST(doc_id % 6 AS INT)
    WHEN 0 THEN '2026-08-19'
    WHEN 1 THEN '2026-08-18'
    WHEN 2 THEN '2026-08-18'
    WHEN 3 THEN '2026-08-0' || CAST(doc_id % 9 + 1 AS VARCHAR(2))
    WHEN 4 THEN '2026-08-19'
    ELSE NULL END AS day
FROM documents WHERE text IS NOT NULL
"""


@query(oracle=_date_normalize_sql())
def q_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed cast for the ingest date fields (sitemap lastmod, feed
    pubDate/published, metadata published_at): wild formats → canonical
    UTC yyyy-MM-dd, malformed → NULL.  Pure JVM Column expressions
    (try_to_timestamp coalesce under the pinned UTC session timezone) —
    whole-stage codegen, zero Python, zero shuffles."""
    from doctor_spark.functions.dates import parse_web_date

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr(_DATE_SYNTH_SQL).alias("raw"),
        parse_web_date(F.expr(_DATE_SYNTH_SQL)).alias("day"),
    )


# deterministic code-listing synthesis: labeled block with entities +
# preserved indentation (0), two unlabeled blocks incl. the spec's
# post-<pre> newline drop (1), <br> + inline markup inside a block (2),
# inline <code> that is NOT a block (3).
_CODE_SYNTH_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN '<pre><code class="language-python">def f_' ||
    CAST(doc_id AS VARCHAR(20)) || '():' || CHR(10) || '    return ' ||
    CAST(doc_id AS VARCHAR(20)) || ' &lt; 2</code></pre>'
  WHEN 1 THEN '<PRE>a ' || CAST(doc_id AS VARCHAR(20)) || '</PRE><pre>' ||
    CHR(10) || 'b ' || CAST(doc_id AS VARCHAR(20)) || '</pre>'
  WHEN 2 THEN '<pre>x<br>y' || CAST(doc_id AS VARCHAR(20)) ||
    '<b>!</b></pre>'
  ELSE '<p>inline <code>x' || CAST(doc_id AS VARCHAR(20)) ||
    '</code> only</p>'
END
"""


def _code_blocks_sql() -> str:
    """Oracle for the code-listing query: expected blocks per arm as
    UNION ALL literals, newlines spliced via CHR(10)."""
    return """
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 4 AS INT) AS m,
         CAST(doc_id AS VARCHAR(20)) AS i
  FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT doc_id, 0 AS blk, 'python' AS lang_hint,
         'def f_' || i || '():' || CHR(10) || '    return ' || i || ' < 2'
           AS code
  FROM p WHERE m = 0
  UNION ALL SELECT doc_id, 0, NULL, 'a ' || i FROM p WHERE m = 1
  UNION ALL SELECT doc_id, 1, NULL, 'b ' || i FROM p WHERE m = 1
  UNION ALL SELECT doc_id, 0, NULL, 'x' || CHR(10) || 'y' || i || '!'
  FROM p WHERE m = 2
)
SELECT doc_id, CAST(blk AS INT) AS blk, lang_hint, code,
       CAST(length(code) - length(replace(code, CHR(10), '')) + 1 AS INT)
         AS n_lines,
       CAST(length(code) AS BIGINT) AS n_chars
FROM c
"""


@query(oracle=_code_blocks_sql())
def q_code_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-corpus ingest (StarCoder-style <pre>/<code> mining): blocks
    with VERBATIM whitespace — the one contract every other kernel's
    collapse would destroy — plus highlight.js/GFM language hints and
    JVM-side shape columns.  Map-only with a Generate fan-out.  The
    oracle replays expected blocks (newlines via CHR(10)) per arm;
    the spec's post-<pre> newline drop, <br> line breaks, entity decode
    and the inline-code exclusion are all pinned.

    No reference counterpart: doctor flattens <pre> like any tag
    (doctor/tasks.py:361-370)."""
    from doctor_spark.operators.codeblocks import code_blocks

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.encode(F.expr(_CODE_SYNTH_SQL), "utf-8").alias("html"),
    )
    t = code_blocks(pages)
    return t.select(
        "doc_id",
        F.col("blk").cast("int").alias("blk"),
        "lang_hint",
        "code",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
