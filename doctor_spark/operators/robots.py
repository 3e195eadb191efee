"""Crawl-politeness gate: join pages against per-host robots.txt rules
and mark each page allowed/denied for a harvesting agent (RFC 9309 —
the kernel lives in :mod:`..kernels.robots`).

Scale shape — the part that matters at 10^12 pages:

- robots.txt bodies are parsed ONCE PER HOST on the robots side (a
  map-only Arrow batch over the dimension table, ~10^8 rows for a full
  crawl — the small side by 4 orders of magnitude), compiled to a
  sorted ``array<struct<allow,plen,re>>`` rule column;
- the page side joins on ``host`` (keyed equi-join; AQE broadcasts it
  when the compiled dimension fits, and a hot host is the same skew
  problem every keyed join here has — AQE skew split applies);
- the per-page verdict is ZERO-Python: a first-match fold over the rule
  array (``F.aggregate`` + ``RLIKE`` on the precompiled regex) runs
  entirely in the JVM, so the 10^12-row side never crosses the Arrow
  boundary.  Patterns come pre-anchored/escaped from the kernel, so
  RLIKE's substring ``find`` is exactly prefix/anchored-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..arrow import row_udf

_RULES_SCHEMA = "array<struct<allow:boolean, plen:int, re:string>>"


def compile_robots_rules(agent: str):
    """Arrow kernel: robots.txt body column → compiled, precedence-sorted
    rule array for ``agent`` (one parse per host row, map-only)."""
    from ..kernels.robots import compile_robots

    def compile_udf(body):
        return compile_robots(body, agent)

    return row_udf(compile_udf, _RULES_SCHEMA)


def robots_verdict(rules: Column, path: Column) -> Column:
    """First-match fold over the compiled rule array — JVM-only.

    Rules arrive sorted (pattern length DESC, Allow first on ties), so
    the first regex hit IS the RFC 9309 verdict; NULL propagates "no
    rule matched" and the caller coalesces to allowed."""
    return F.aggregate(
        rules,
        F.lit(None).cast("boolean"),
        lambda acc, r: F.when(acc.isNotNull(), acc).otherwise(
            F.when(F.regexp_like(path, r["re"]), r["allow"])
        ),
    )


def robots_crawl_delays(
    robots: DataFrame,
    agent: str,
    host_col: str = "host",
    body_col: str = "robots_body",
) -> DataFrame:
    """Per-host politeness interval for the fetch scheduler:
    ``(host, crawl_delay_ms)`` — NULL when the host's robots.txt names no
    parseable ``Crawl-delay`` for ``agent``.  One Arrow pass over the
    dimension table (the same ~1-row-per-host side the gate compiles)."""
    from ..kernels.robots import crawl_delay_ms

    def delay(body):
        return crawl_delay_ms(body, agent)

    delay_udf = row_udf(delay, "bigint")

    return robots.select(
        F.col(host_col).alias("host"),
        delay_udf(F.col(body_col)).alias("crawl_delay_ms"),
    )


_ROBOTS_URL_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+/robots\.txt(?:[?#].*)?$"


def robots_from_pages(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    body_col: str = "html",
) -> DataFrame:
    """Build the per-host robots dimension from the crawl's OWN pages
    table (Common Crawl archives ``/robots.txt`` fetches alongside the
    pages they governed): filter the robots fetches, keep the LATEST
    snapshot per host (``max_by`` over ``(warc_ts, url)`` — deterministic
    on ties), return ``(host, robots_body:binary)`` ready for
    :func:`robots_gate` (the compile kernel decodes bytes itself).

    One codegen'd filter + ONE keyed aggregation on host — the robots
    subset of a crawl is ~1 row per host, so the exchange carries the
    dimension, never the corpus."""
    from ..functions.urls import url_host

    fetches = pages.where(F.regexp_like(F.col(url_col), F.lit(_ROBOTS_URL_RE)))
    return (
        fetches.select(
            url_host(F.col(url_col)).alias("host"),
            F.col(ts_col).alias("_ts"),
            F.col(url_col).alias("_u"),
            F.col(body_col).alias("_body"),
        )
        .groupBy("host")
        .agg(
            F.max_by(
                F.col("_body"), F.struct(F.col("_ts"), F.col("_u"))
            ).alias("robots_body")
        )
    )


def robots_gate(
    pages: DataFrame,
    robots: DataFrame,
    agent: str,
    url_col: str = "url",
    host_col: str = "host",
    body_col: str = "robots_body",
) -> DataFrame:
    """Annotate ``pages`` with ``host``, ``path`` and a boolean
    ``allowed`` for ``agent``.

    ``robots`` is one row per host (``host_col``, ``body_col``); hosts
    with no robots row — and paths no rule matches — are allowed, per
    RFC 9309.  The page URL's raw path (query dropped, '' → '/') is
    matched; robots patterns see the path exactly as fetched.
    """
    from ..functions.urls import url_host

    compiled = robots.select(
        F.col(host_col).alias("host"),
        compile_robots_rules(agent)(F.col(body_col)).alias("_rules"),
    )
    raw_path = F.regexp_extract(
        F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1
    )
    staged = pages.withColumn("host", url_host(F.col(url_col))).withColumn(
        "path", F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    )
    joined = staged.join(compiled, "host", "left")
    return joined.withColumn(
        "allowed",
        F.coalesce(robots_verdict(F.col("_rules"), F.col("path")), F.lit(True)),
    ).drop("_rules")
