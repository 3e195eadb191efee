"""Link-graph queries: PageRank, host rank over markup, BFS crawl depth,
HITS, TrustRank, degree statistics, anchor text and redirect chains."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from doctor_spark.queries import _docs, _present, query


# the three affine edge generators for the deterministic link graph
# (shared between the Spark query and the SQL oracle — one source of
# truth so the two can never drift)
_PR_EDGE_GENS = ((37, 11), (101, 7), (193, 3))


def _affine_edges(
    spark: SparkSession, sf_dir: str, gens
) -> tuple[DataFrame, DataFrame]:
    """``(docs, edges)``: the ``doc_id`` column and the deterministic
    link graph ``(dst, src)`` with one edge ``src → (src·m + c) mod n``
    per generator ``(m, c)``, kept where the target is a document (n =
    max doc_id + 1).  The oracles build the same graph in SQL."""
    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    ids = docs.select(F.col("doc_id").alias("src"))
    parts = [
        ids.select(
            "src",
            ((F.col("src") * F.lit(m) + F.lit(c)) % F.lit(n)).alias("dst"),
        )
        for m, c in gens
    ]
    edges = reduce(DataFrame.unionByName, parts)
    return docs, edges.join(docs.select(F.col("doc_id").alias("dst")), "dst")


def _pagerank_sql(n_iter: int = 4) -> str:
    """Unrolled integer PageRank oracle: same edge generators, same
    int64 micro-mass updates (// == Spark's div on non-negatives)."""
    gens = " UNION ALL ".join(
        f"SELECT d.doc_id AS src, (d.doc_id * {m} + {c}) % nn.n AS dst "
        f"FROM documents d, nn"
        for m, c in _PR_EDGE_GENS
    )
    cte = [f"""nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
e0 AS (
  SELECT DISTINCT ed.src, ed.dst
  FROM ({gens}) ed JOIN documents dd ON dd.doc_id = ed.dst
  WHERE ed.src <> ed.dst
),
deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
e AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
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
SELECT node::BIGINT AS doc_id, rank_micro::BIGINT AS rank_micro
FROM r{n_iter}
"""
    )


@query(oracle=_pagerank_sql())
def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cc-webgraph-style rank for crawl prioritization: integer-exact
    PageRank (int64 micro-mass, truncating DIV both engines share) over
    a deterministic affine link graph on doc_ids.  The ITERATIVE
    distributed operator is hash-checked against a 4-level unrolled CTE
    oracle."""
    from doctor_spark.operators.graph import pagerank

    _, edges = _affine_edges(spark, sf_dir, _PR_EDGE_GENS)
    pr = pagerank(edges, n_iter=4)
    return pr.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("rank_micro").cast("bigint").alias("rank_micro"),
    )


# deterministic page-markup synthesis for the link-graph query: one SQL
# snippet parsed by Spark's F.expr AND spliced verbatim into the DuckDB
# oracle (the _URL_SYNTH_SQL discipline).  Exercises the href kernel's
# rules: entity refs (&amp;), uppercase tag/attr/scheme/host, whitespace
# inside the quotes, single-quoted attrs, and the dropped link classes
# (relative, javascript:, mailto:, anchors without href).
_LINK_HOST_MOD = 997


_LINK_SRC_HOST_SQL = (
    f"'h' || CAST(doc_id % {_LINK_HOST_MOD} AS VARCHAR(8)) || '.example'"
)


_LINK_HTML_SYNTH_SQL = f"""
'<html><head><title>d' || CAST(doc_id AS VARCHAR(20)) ||
'</title></head><body><p>' || substr(text, 1, 48) || '</p>' ||
'<a href="http://h' || CAST((doc_id * 7 + 3) % {_LINK_HOST_MOD} AS VARCHAR(8)) ||
'.example/p/' || CAST(doc_id AS VARCHAR(20)) || '?a=1&amp;b=2">one</a>' ||
CASE WHEN doc_id % 2 = 0
     THEN '<A HREF=" HTTP://H' ||
          CAST((doc_id * 11 + 5) % {_LINK_HOST_MOD} AS VARCHAR(8)) ||
          '.Example/q ">two</A>'
     ELSE '<a href="/relative/path">rel</a>' END ||
CASE WHEN doc_id % 3 = 0 THEN '<a href="javascript:void(0)">js</a>'
     WHEN doc_id % 3 = 1 THEN '<a href="mailto:x@example.com">m</a>'
     ELSE '<a name="anchor">plain</a>' END ||
'<a href=''https://h' ||
CAST((doc_id * 13 + 9) % {_LINK_HOST_MOD} AS VARCHAR(8)) ||
'.example/r''>three</a></body></html>'
"""


def _link_host_rank_sql(n_iter: int = 4) -> str:
    """Oracle for the host-graph query: regex replay of the href kernel
    on the shared markup synthesis (double- and single-quoted attrs,
    case-insensitive, entity decode, WHATWG whitespace strip, http(s)
    scheme gate), url_host mirror, then the unrolled integer PageRank
    over VARCHAR host nodes."""
    ws = "' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)"
    cte = [f"""pages AS (
  SELECT {_LINK_SRC_HOST_SQL} AS src, {_LINK_HTML_SYNTH_SQL} AS html
  FROM documents WHERE text IS NOT NULL
),
raw AS (
  SELECT src, unnest(regexp_extract_all(html, '(?i)href="([^"]*)"', 1)) AS href
  FROM pages
  UNION ALL
  SELECT src, unnest(regexp_extract_all(html, '(?i)href=''([^'']*)''', 1)) AS href
  FROM pages
),
cand AS (
  SELECT src, trim(replace(href, '&amp;', '&'), {ws}) AS href FROM raw
),
links AS (
  SELECT src,
         nullif(lower(split_part(regexp_extract(split_part(href, '#', 1),
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1), ':', 1)), '') AS dst
  FROM cand
  WHERE regexp_matches(href, '(?i)^https?://')
),
e0 AS (
  SELECT DISTINCT src, dst FROM links
  WHERE dst IS NOT NULL AND src <> dst
),
deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
e AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
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
SELECT node AS host, rank_micro::BIGINT AS rank_micro
FROM r{n_iter}
"""
    )


@query(oracle=_link_host_rank_sql())
def q_link_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cc-webgraph loop on actual markup: synthesize
    deterministic tag-soup pages (BINARY html, per the input contract),
    extract absolute ``<a href>`` targets with the tag-soup
    ``HTMLParser`` kernel, roll them up to lowercased hosts, and run the
    integer-exact PageRank over the host graph.  The oracle replays the
    extraction with regexes (exact on this synthesis; the kernel's
    generality beyond it is pytest-gated) and an unrolled 4-level CTE.

    Plan: ONE Arrow batch for extraction (map-only), one distinct
    exchange for the edge table, then the pagerank joins."""
    from doctor_spark.operators.graph import host_link_edges, pagerank

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.expr(_LINK_SRC_HOST_SQL).alias("src_host"),
        F.encode(F.expr(_LINK_HTML_SYNTH_SQL), "utf-8").alias("html"),
    )
    pr = pagerank(host_link_edges(pages), n_iter=4)
    return pr.select(
        F.col("node").alias("host"),
        F.col("rank_micro").cast("bigint").alias("rank_micro"),
    )


# HITS edge generators — a different affine family than _PR_EDGE_GENS so
# the two graph queries do not share a fixture.
_HITS_EDGE_GENS = ((29, 5), (83, 13), (157, 17))


def _hits_sql(n_iter: int = 3) -> str:
    """Unrolled integer HITS oracle: same affine edge generators, same
    int64 micro scores, L-inf normalization with // (== Spark's div on
    non-negatives), LEFT JOIN zero-fill for sources/sinks."""
    gens = " UNION ALL ".join(
        f"SELECT d.doc_id AS src, (d.doc_id * {m} + {c}) % nn.n AS dst "
        f"FROM documents d, nn"
        for m, c in _HITS_EDGE_GENS
    )
    cte = [f"""nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
e AS MATERIALIZED (
  SELECT DISTINCT ed.src, ed.dst
  FROM ({gens}) ed JOIN documents dd ON dd.doc_id = ed.dst
  WHERE ed.src <> ed.dst
),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, 1000000::BIGINT AS hub FROM nodes)"""]
    for i in range(1, n_iter + 1):
        cte.append(f"""a{i}r AS MATERIALIZED (
  SELECT e.dst AS node, sum(h{i - 1}.hub) AS raw
  FROM h{i - 1} JOIN e ON h{i - 1}.node = e.src GROUP BY 1
),
a{i}m AS (SELECT greatest(max(raw), 1) AS mx FROM a{i}r),
a{i} AS MATERIALIZED (
  SELECT nodes.node,
         CAST((coalesce(raw, 0) * 1000000) // mx AS BIGINT) AS auth
  FROM nodes LEFT JOIN a{i}r USING (node), a{i}m
),
h{i}r AS MATERIALIZED (
  SELECT e.src AS node, sum(a{i}.auth) AS raw
  FROM a{i} JOIN e ON a{i}.node = e.dst GROUP BY 1
),
h{i}m AS (SELECT greatest(max(raw), 1) AS mx FROM h{i}r),
h{i} AS MATERIALIZED (
  SELECT nodes.node,
         CAST((coalesce(raw, 0) * 1000000) // mx AS BIGINT) AS hub
  FROM nodes LEFT JOIN h{i}r USING (node), h{i}m
)""")
    return (
        "WITH " + ",\n".join(cte)
        + f"""
SELECT h{n_iter}.node::BIGINT AS doc_id, h{n_iter}.hub::BIGINT AS hub_micro,
       a{n_iter}.auth::BIGINT AS auth_micro
FROM h{n_iter} JOIN a{n_iter} USING (node)
ORDER BY doc_id
"""
    )


@query(oracle=_hits_sql())
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact HITS hubs & authorities (int64 micro scores, L-inf
    normalization via the truncating DIV both engines share) over a
    deterministic affine link graph on doc_ids — the query-independent
    hub/authority table webgraph toolkits ship next to PageRank.  The
    ITERATIVE distributed operator (edge table checkpointed twice,
    partitioned by src and by dst, so per-iteration joins never
    re-shuffle edges) is hash-checked against a 3-iteration unrolled
    CTE oracle."""
    from doctor_spark.operators.graph import hits

    _, edges = _affine_edges(spark, sf_dir, _HITS_EDGE_GENS)
    out = hits(edges, n_iter=3)
    return _present(out.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("hub_micro").cast("bigint").alias("hub_micro"),
        F.col("auth_micro").cast("bigint").alias("auth_micro"),
    ), "doc_id")


# TrustRank edge generators + seed rule — distinct affine family from
# _PR_EDGE_GENS/_HITS_EDGE_GENS; seeds are every 97th doc_id (a curated
# trusted list is tiny by contract, and 97 is coprime to the generators'
# moduli so seeds scatter across the graph).
_TR_EDGE_GENS = ((41, 3), (127, 19), (211, 23))


_TR_SEED_MOD = 97


def _trustrank_sql(n_iter: int = 4) -> str:
    """Unrolled integer TrustRank oracle: same affine edge generators,
    same seed rule, same int64 micro updates with seed-only teleport
    ((15 * seed * 1e6) // 100 + (85 * inflow) // 100)."""
    gens = " UNION ALL ".join(
        f"SELECT d.doc_id AS src, (d.doc_id * {m} + {c}) % nn.n AS dst "
        f"FROM documents d, nn"
        for m, c in _TR_EDGE_GENS
    )
    cte = [f"""nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
e0 AS MATERIALIZED (
  SELECT DISTINCT ed.src, ed.dst
  FROM ({gens}) ed JOIN documents dd ON dd.doc_id = ed.dst
  WHERE ed.src <> ed.dst
),
deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
e AS MATERIALIZED (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
seeds AS (
  SELECT doc_id AS node FROM documents WHERE doc_id % {_TR_SEED_MOD} = 0
),
base AS MATERIALIZED (
  SELECT nodes.node,
         CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS seed
  FROM nodes LEFT JOIN seeds s USING (node)
),
t0 AS (SELECT node, (seed * 1000000)::BIGINT AS trust FROM base)"""]
    for i in range(1, n_iter + 1):
        cte.append(f"""t{i} AS MATERIALIZED (
  SELECT base.node,
         ((15 * base.seed * 1000000) // 100
          + (85 * coalesce(inf.inflow, 0)) // 100)::BIGINT AS trust
  FROM base LEFT JOIN (
    SELECT e.dst AS node, sum(t{i - 1}.trust // e.deg) AS inflow
    FROM t{i - 1} JOIN e ON t{i - 1}.node = e.src
    GROUP BY e.dst
  ) inf USING (node)
)""")
    return (
        "WITH " + ",\n".join(cte)
        + f"""
SELECT node::BIGINT AS doc_id, trust::BIGINT AS trust_micro
FROM t{n_iter}
ORDER BY doc_id
"""
    )


@query(oracle=_trustrank_sql())
def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact TrustRank (Gyongyi et al., VLDB 2004): personalized
    PageRank whose teleport lands only on a trusted seed set — the
    link-spam demotion stage.  Same int64-micro/truncating-DIV
    discipline as link_pagerank, seed-weighted teleport; ITERATIVE
    distributed operator hash-checked against a 4-level unrolled CTE
    oracle.  Pages unreachable from any seed settle at exactly 0."""
    from doctor_spark.operators.graph import trustrank

    docs, edges = _affine_edges(spark, sf_dir, _TR_EDGE_GENS)
    seeds = docs.where(
        F.col("doc_id") % F.lit(_TR_SEED_MOD) == 0
    ).select(F.col("doc_id").alias("node"))
    out = trustrank(edges, seeds, n_iter=4)
    return _present(out.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("trust_micro").cast("bigint").alias("trust_micro"),
    ), "doc_id")


def _crawl_depth_sql(n_iter: int = 4) -> str:
    """Multi-source BFS oracle: the affine edge generators, seed rule
    doc_id % 100 == 0, and an unrolled min-relaxation ladder."""
    gens = " UNION ALL ".join(
        f"SELECT d.doc_id AS src, (d.doc_id * {m} + {c}) % nn.n AS dst "
        f"FROM documents d, nn"
        for m, c in _PR_EDGE_GENS
    )
    cte = [f"""nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
e AS (
  SELECT DISTINCT ed.src, ed.dst
  FROM ({gens}) ed JOIN documents dd ON dd.doc_id = ed.dst
  WHERE ed.src <> ed.dst
),
d0 AS (
  SELECT doc_id AS node, 0::BIGINT AS dist FROM documents
  WHERE doc_id % 100 = 0
)"""]
    for i in range(1, n_iter + 1):
        cte.append(f"""d{i} AS (
  SELECT node, min(dist)::BIGINT AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, d{i - 1}.dist + 1 AS dist
    FROM d{i - 1} JOIN e ON d{i - 1}.node = e.src
  ) GROUP BY node
)""")
    return (
        "WITH " + ",\n".join(cte)
        + f"""
SELECT node::BIGINT AS doc_id, dist::BIGINT AS depth FROM d{n_iter}
"""
    )


@query(oracle=_crawl_depth_sql())
def q_crawl_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl depth from a trusted seed set: multi-source BFS (unrolled
    integer Bellman-Ford, 4 rounds) over the shared affine link graph,
    seeds = doc_id % 100 == 0 (the TrustRank-style deterministic seed
    rule).  Nodes within 4 hops carry exact depth; farther nodes are
    absent.  Each round is one keyed join + one order-free min
    aggregate.  Oracle: the identical 4-level min-relaxation CTE."""
    from doctor_spark.operators.graph import seed_distances

    docs, edges = _affine_edges(spark, sf_dir, _PR_EDGE_GENS)
    seeds = docs.where(F.col("doc_id") % 100 == 0).select("doc_id")
    d = seed_distances(edges, seeds, n_iter=4)
    return d.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("depth").cast("bigint").alias("depth"),
    )


# deterministic anchor-markup synthesis for the link-text query: 13
# target hosts, three anchor shapes per page (a high-frequency 'home'
# text vs a per-host 'about k' minority, an entity-ref + whitespace-noise
# text on an UPPERCASE-scheme href, an image-only empty-text anchor that
# must be dropped) plus relative/javascript links that carry no edge.
_ANCHOR_HOST_MOD = 13


_ANCHOR_HTML_SYNTH_SQL = f"""
'<html><body><a href="http://t' || CAST(doc_id % {_ANCHOR_HOST_MOD} AS VARCHAR(4)) ||
'.example/a">' ||
CASE WHEN doc_id % 4 = 3
     THEN 'about ' || CAST(doc_id % {_ANCHOR_HOST_MOD} AS VARCHAR(4))
     ELSE 'home' END ||
'</a><A HREF=" HTTP://T' || CAST((doc_id * 3 + 1) % {_ANCHOR_HOST_MOD} AS VARCHAR(4)) ||
'.Example/q ">' ||
CASE WHEN doc_id % 2 = 0 THEN ' news  &amp; views ' ELSE 'contact' END ||
'</A><a href="http://t' || CAST(doc_id % {_ANCHOR_HOST_MOD} AS VARCHAR(4)) ||
'.example/i"><img src="x"></a>' ||
'<a href="/rel">rel</a><a href="javascript:void(0)">js</a></body></html>'
"""


def _anchor_text_topk_sql() -> str:
    """Oracle for the link-text query: the synthesis arms replayed as
    UNION ALL branches (admitted anchors only — the image-only empty
    text, relative and javascript links never produce a branch), the
    same keyed count, and the same (count DESC, anchor ASC) rank
    window."""
    return f"""
WITH e AS (
  SELECT 't' || CAST(doc_id % {_ANCHOR_HOST_MOD} AS VARCHAR(4)) || '.example'
           AS dst_host,
         CASE WHEN doc_id % 4 = 3
              THEN 'about ' || CAST(doc_id % {_ANCHOR_HOST_MOD} AS VARCHAR(4))
              ELSE 'home' END AS anchor
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT 't' || CAST((doc_id * 3 + 1) % {_ANCHOR_HOST_MOD} AS VARCHAR(4))
           || '.example',
         CASE WHEN doc_id % 2 = 0 THEN 'news & views' ELSE 'contact' END
  FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT dst_host, anchor, CAST(COUNT(*) AS BIGINT) AS n_links
  FROM e GROUP BY dst_host, anchor
), r AS (
  SELECT dst_host, anchor, n_links,
         CAST(ROW_NUMBER() OVER (PARTITION BY dst_host
                                 ORDER BY n_links DESC, anchor ASC) AS INT)
           AS rnk
  FROM c
)
SELECT dst_host, anchor, n_links, rnk FROM r WHERE rnk <= 3
"""


@query(oracle=_anchor_text_topk_sql())
def q_anchor_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-text table (anchor-text corpora / link relevance signals):
    per target host, the top-3 anchor strings by count with the
    deterministic (count DESC, anchor ASC) tie-break.  The single
    row-volume exchange is the keyed (host, anchor) count — map-side
    combined; the rank window runs over already-aggregated rows.  The
    oracle replays the synthesis arms as UNION ALL branches and ranks
    with the same window — extraction (entity refs, whitespace
    collapse, empty-text drop, scheme admission, host lowercasing) is
    verified against the replay, never against the kernel."""
    from doctor_spark.operators.metadata import anchor_text_topk

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pages = d.select(
        F.encode(F.expr(_ANCHOR_HTML_SYNTH_SQL), "utf-8").alias("html")
    )
    t = anchor_text_topk(pages, k=3)
    return t.select(
        "dst_host",
        "anchor",
        F.col("n_links").cast("bigint").alias("n_links"),
        F.col("rank").cast("int").alias("rnk"),
    )


# deterministic redirect-edge synthesis: docs form blocks of 24; inside
# a block each url redirects to the next.  Every 7th block closes into a
# 24-cycle (all 24 unresolved — too-many-redirects); other blocks end in
# a per-block terminal sink, so positions ≥8 resolve with hop counts
# 1..16 and positions 0-7 sit 17-24 hops out and exceed the browser
# budget.  A partial trailing block's last url points at a nonexistent
# page — no out-edge, terminal, identically in both engines.
_REDIR_BLOCK = 24


_REDIR_CYCLE_MOD = 7


def _redirect_edges_expr(div: str) -> tuple[str, str]:
    """(src, dst) SQL exprs; ``div`` is the integer-division operator —
    ``div`` on Spark, ``//`` on DuckDB (same truncation for non-negative
    operands)."""
    b = f"(doc_id {div} {_REDIR_BLOCK})"
    src = "'http://r.example/' || CAST(doc_id AS VARCHAR(12))"
    dst = f"""CASE
  WHEN doc_id % {_REDIR_BLOCK} < {_REDIR_BLOCK - 1}
    THEN 'http://r.example/' || CAST(doc_id + 1 AS VARCHAR(12))
  WHEN {b} % {_REDIR_CYCLE_MOD} = 0
    THEN 'http://r.example/' || CAST({b} * {_REDIR_BLOCK} AS VARCHAR(12))
  ELSE 'http://final.example/' || CAST({b} AS VARCHAR(12))
END"""
    return src, dst


def _redirect_resolve_sql() -> str:
    """Oracle for redirect resolution: the same block/cycle/sink edge
    synthesis, walked per url by a hop-bounded recursive CTE (the
    iterative pointer-doubling operator's sequential twin); a url is
    resolved iff the deepest node reached has no outgoing edge."""
    src, dst = _redirect_edges_expr("//")
    return f"""
WITH RECURSIVE e AS (
  SELECT {src} AS src, {dst} AS dst FROM documents
),
walk(url, cur, hops) AS (
  SELECT src, dst, 1 FROM e
  UNION ALL
  SELECT w.url, e2.dst, w.hops + 1
  FROM walk w JOIN e e2 ON w.cur = e2.src
  WHERE w.hops < 16
),
deepest AS (
  SELECT url, cur, hops,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY hops DESC) AS rn
  FROM walk
)
SELECT d.url AS url,
       CASE WHEN s.src IS NULL THEN d.cur END AS final_url,
       CAST(CASE WHEN s.src IS NULL THEN d.hops END AS BIGINT) AS n_hops,
       (s.src IS NULL) AS resolved
FROM deepest d LEFT JOIN (SELECT DISTINCT src FROM e) s ON d.cur = s.src
WHERE d.rn = 1
"""


@query(oracle=_redirect_resolve_sql())
def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (the canonicalization step after
    page_metadata surfaces WHATWG refresh targets): every redirecting
    url mapped to its terminal target and exact hop count within the
    16-hop browser budget, cycles and over-long chains marked
    unresolved.  Pointer doubling — ⌈log₂ 16⌉ = 4 keyed self-joins, not
    16 per-hop iterations — with checkpoint-bounded lineage; the
    oracle walks the same chains with a hop-bounded recursive CTE.  Plain
    ``_docs`` scan: the query runs no Python and every doubling job would
    re-pay a spread exchange (measured 0.657× with it)."""
    from doctor_spark.operators.graph import resolve_redirects

    src, dst = _redirect_edges_expr("div")
    edges = _docs(spark, sf_dir).select(
        F.expr(src).alias("src"), F.expr(dst).alias("dst")
    )
    r = resolve_redirects(edges, max_hops=16)
    return r.select(
        "url",
        "final_url",
        F.col("n_hops").cast("bigint").alias("n_hops"),
        "resolved",
    )


def _host_degree_stats_sql() -> str:
    """Oracle for the degree histogram: the same affine edge generators,
    distinct-ified with self-loops dropped, aggregated per direction."""
    unions = " UNION ALL ".join(
        f"SELECT doc_id AS src, (doc_id * {m} + {c}) %"
        f" (SELECT n FROM nn) AS dst FROM documents"
        for m, c in _PR_EDGE_GENS
    ) + " UNION ALL SELECT doc_id AS src, doc_id % 50 AS dst FROM documents"
    return f"""
WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
e0 AS ({unions}),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
o AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
i AS (SELECT dst, count(*) AS deg FROM e GROUP BY dst)
SELECT 'out' AS side, deg::BIGINT AS deg, count(*)::BIGINT AS n_nodes
FROM o GROUP BY deg
UNION ALL
SELECT 'in', deg::BIGINT, count(*)::BIGINT FROM i GROUP BY deg
"""


@query(oracle=_host_degree_stats_sql())
def q_host_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webgraph degree distribution (cc-webgraph's stats artifact, the
    power-law diagnostic every graph release ships): distinct out- and
    in-degree per node over the deterministic affine link graph, rolled
    into one histogram row per (direction, degree).  ONE distinct
    exchange shared by both directions, two keyed aggregates whose
    outputs are histogram-sized; hot (power-law) nodes are absorbed by
    map-side partial aggregation before the exchange."""
    from doctor_spark.operators.graph import degree_histogram

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    ids = docs.select(F.col("doc_id").alias("src"))
    parts = [
        ids.select(
            "src",
            ((F.col("src") * F.lit(m) + F.lit(c)) % F.lit(n)).alias("dst"),
        )
        for m, c in _PR_EDGE_GENS
    ]
    # hub term: every node also links to one of 50 hubs, so the in-degree
    # side carries the power-law-style mass concentration a real webgraph
    # has (the affine generators alone are permutation-like — uniform)
    parts.append(ids.select("src", (F.col("src") % 50).alias("dst")))
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    h = degree_histogram(edges)
    return h.select(
        "side",
        F.col("deg").cast("bigint").alias("deg"),
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
    )
