"""Page-metadata and anchor-text operators — the per-page head-metadata
and link-text stages of a web-corpus pipeline.

``page_metadata`` is the trafilatura/htmldate analog: one Arrow batch
per partition pulls (title, description, canonical_url, og_title,
published_at, lang_attr) out of tag-soup HTML (kernel:
:mod:`..kernels.html_meta`).  Map-only — no shuffle; at 10^12 pages the
plan is a scan + one ``ArrowEvalPython`` + project, the same shape as
the extraction stage.

``anchor_text_topk`` builds the link-text table (anchor-text corpora,
link relevance signals): explode ``(href, text)`` anchors, roll up to
the target host, and keep the top-k anchor strings per host by count.
Scale shape: the per-(host, anchor) pre-aggregation is the map-side
combine — the ONLY row-volume exchange is keyed on (dst_host, anchor);
the subsequent window ranks the already-aggregated counts (tiny), so a
hot host (every page on the web links to example.com/home) costs one
skewed-but-AQE-splittable agg, never a collect_set blowup.

No reference counterpart: doctor strips ``<a>`` tags outright
(doctor/tasks.py:361-370) and never reads ``<head>``; these operators
are part of the training-data-pipeline surface next to
:mod:`.graph` (host edges) and :mod:`.boilerplate` (main content).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..arrow import row_udf
from ..kernels.html_meta import FIELDS

_META_STRUCT = "struct<" + ", ".join(f"{f}:string" for f in FIELDS) + ">"


def _meta_udf():
    from ..kernels.html_meta import extract_page_metadata

    # non-deterministic for the optimizer only (as on SimHash's signature
    # UDF): an inferred isnotnull filter on a join key derived from its
    # output (canonical_clusters) otherwise clones the kernel below the
    # projection, so each document ran it twice
    return row_udf(extract_page_metadata, _META_STRUCT).asNondeterministic()


def page_metadata(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Append the six metadata fields to ``pages`` (str or binary
    ``html_col`` per the input contract).  One vectorized Arrow batch,
    zero shuffles; undecodable/None pages get all-null fields.  The struct
    is one column of its own projection and the fields are read in the
    next: the optimizer never inlines a nondeterministic producer, so the
    kernel runs once per page, not once per field."""
    return (
        pages.select("*", _meta_udf()(F.col(html_col)).alias("_meta"))
        .select("*", "_meta.*")
        .drop("_meta")
    )


def _anchors_udf():
    from ..kernels.links import extract_anchors

    return row_udf(extract_anchors, "array<struct<href:string, anchor:string>>")


def anchor_edges(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Pages → ``(dst_host, anchor)`` link-text rows: every absolute
    http(s) anchor contributes its lowercased target host and its
    whitespace-collapsed text.  Empty anchor texts (image-only links)
    are dropped here — they carry no link-text signal.  Map-only."""
    from ..functions.urls import url_host

    rows = pages.select(
        F.explode(_anchors_udf()(F.col(html_col))).alias("a")
    ).select(
        url_host(F.col("a.href")).alias("dst_host"),
        F.col("a.anchor").alias("anchor"),
    )
    return rows.where(
        F.col("dst_host").isNotNull() & (F.length("anchor") > 0)
    )


def _image_alts_udf():
    from ..kernels.links import extract_image_alts

    return row_udf(extract_image_alts, "array<struct<src:string, alt:string>>")


def image_alt_edges(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Pages → ``(src, alt)`` image-caption candidate rows — the
    LAION/DataComp-style pairing ingest.  Every absolute http(s)
    ``<img>`` contributes its (whitespace-stripped) source URL and its
    entity-decoded, whitespace-collapsed alt text; decorative images
    (empty alt) are dropped here — they carry no caption signal.
    Map-only: scan → one Arrow batch → explode, zero shuffles."""
    rows = pages.select(
        F.explode(_image_alts_udf()(F.col(html_col))).alias("i")
    ).select("i.*")
    return rows.where(F.length("alt") > 0)


def image_caption_table(
    pages: DataFrame, html_col: str = "html"
) -> DataFrame:
    """The deduplicated caption table: per image URL, the modal alt
    text — ``(src, alt, n_pairs)`` with the (count DESC, alt ASC)
    tie-break both engines share.  Same scale shape as
    :func:`anchor_text_topk`: the ONLY row-volume exchange is the keyed
    (src, alt) count (map-side combined); the rank window runs over the
    already-aggregated rows, so a hot image (a CDN logo on every page)
    costs one AQE-splittable agg, never a collect blowup."""
    counts = (
        image_alt_edges(pages, html_col=html_col)
        .groupBy("src", "alt")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = Window.partitionBy("src").orderBy(
        F.col("n_pairs").desc(), F.col("alt").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") == 1)
        .drop("rank")
    )


def anchor_text_topk(
    pages: DataFrame, k: int = 3, html_col: str = "html"
) -> DataFrame:
    """Top-k anchor texts per target host:
    ``(dst_host, anchor, n_links, rank)`` with rank 1..k by
    (count desc, anchor asc) — the deterministic tie-break both engines
    share.  Exactly one row-volume exchange (the (host, anchor) count);
    the rank window runs over pre-aggregated counts."""
    counts = (
        anchor_edges(pages, html_col=html_col)
        .groupBy("dst_host", "anchor")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_links").desc(), F.col("anchor").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def robots_meta_flags(pages: DataFrame, key_col: str = "doc_id",
                      html_col: str = "html") -> DataFrame:
    """Page-level robots-meta admission flags: ``(key_col, noindex,
    nofollow)`` from every ``<meta name="robots"|"googlebot">`` tag
    (REP union semantics — the most restrictive directive across tags
    applies; ``none`` sets both; ``index``/``follow``/``all`` are
    no-ops).  The admission rung between the robots.txt gate
    (operators/robots.py, per-host fetch admission) and the quality
    gates: a fetched page that says noindex must not enter the corpus.

    Map-only like its siblings — one Arrow batch, zero shuffles at any
    corpus size; kernel contract: kernels/html_meta.py
    ``extract_robots_flags`` (undecodable/None pages admit)."""
    from ..kernels.html_meta import extract_robots_flags

    flags = row_udf(extract_robots_flags, "struct<noindex:boolean, nofollow:boolean>")
    f = flags(F.col(html_col))
    return pages.select(
        key_col,
        f.getField("noindex").alias("noindex"),
        f.getField("nofollow").alias("nofollow"),
    )


_LD_STRUCT = (
    "struct<ld_type:string, headline:string, date_published:string, "
    "author_name:string, publisher_name:string, "
    "n_blocks:int, n_bad:int, n_nodes:int>"
)
_LD_COLS = ("ld_type", "headline", "date_published", "author_name",
            "publisher_name", "n_blocks", "n_bad", "n_nodes")


def structured_data(pages: DataFrame, key_col: str = "doc_id",
                    html_col: str = "html") -> DataFrame:
    """schema.org JSON-LD extraction: ``(key_col, ld_type, headline,
    date_published, author_name, publisher_name, n_blocks, n_bad,
    n_nodes)`` from the first article-like ld+json node per page
    (kernel contract: kernels/jsonld.py — strict per-block JSON, a
    malformed block counts in ``n_bad`` and never poisons the page).

    Map-only like its head-metadata siblings — one Arrow batch, zero
    shuffles at any corpus size; the highest-precision title/date
    source a web corpus has."""
    from ..kernels.jsonld import extract_structured_data

    f = row_udf(extract_structured_data, _LD_STRUCT)(F.col(html_col))
    return pages.select(
        key_col, *[f.getField(c).alias(c) for c in _LD_COLS]
    )


def _hreflang_udf():
    from ..kernels.links import extract_hreflang

    alts = row_udf(extract_hreflang, "array<struct<hreflang:string, href:string>>")
    # asNondeterministic: stops Catalyst from inlining the kernel into
    # BOTH explode stages of the pair expansion (same discipline as the
    # image-dup decode kernel) — the plan must carry ONE ArrowEvalPython
    return alts.asNondeterministic()


def hreflang_edges(pages: DataFrame, key_col: str = "doc_id",
                   html_col: str = "html") -> DataFrame:
    """Pages → ``(key_col, hreflang, href)`` alternate-language
    declarations (kernel: kernels/links.py ``extract_hreflang``) — the
    seed table for bitext mining.  Map-only: one Arrow batch + a
    zero-shuffle explode."""
    rows = pages.select(
        F.col(key_col), F.explode(_hreflang_udf()(F.col(html_col))).alias("a")
    )
    return rows.select(key_col, "a.*")


def language_pair_counts(pages: DataFrame, key_col: str = "doc_id",
                         html_col: str = "html") -> DataFrame:
    """Parallel-corpus language-pair inventory: ``(lang_a, lang_b,
    n_pages)`` — on how many pages are the two languages co-declared
    as hreflang alternates?  This is the planning table a bitext
    harvest runs first (which pairs exist, at what volume) before
    fetching any alternate.

    Scale shape: the per-page language set is DISTINCT-ed and
    pair-expanded JVM-side (k² rows per page for k declared languages
    — k is bounded by a site's locale count, ~dozens), then ONE keyed
    aggregate on the pair with map-side partials.  ``x-default`` is a
    routing pseudo-tag, not a language — excluded."""
    langs = pages.select(
        F.col(key_col),
        F.array_distinct(
            F.filter(
                _hreflang_udf()(F.col(html_col)).getField("hreflang"),
                lambda t: t != "x-default",
            )
        ).alias("langs"),
    )
    a = langs.select(key_col, F.explode("langs").alias("lang_a"), "langs")
    pairs = a.select(
        key_col, "lang_a", F.explode("langs").alias("lang_b")
    ).where(F.col("lang_a") < F.col("lang_b"))
    return (
        pairs.groupBy("lang_a", "lang_b")
        .agg(F.count("*").alias("n_pages"))
    )


def canonical_clusters(pages: DataFrame, url_col: str = "url",
                       canon_col: str = "canonical_url",
                       id_col: str = "doc_id") -> DataFrame:
    """Canonical-URL dedup clustering — the cheapest dedup rung a crawl
    runs (BEFORE any content hashing): pages declaring the same
    ``rel=canonical`` target are one logical document (print views,
    m-dot mirrors, tracking-param variants), and the declared canonical
    page itself is the representative.

    ``cluster_key = coalesce(canonical_url, url)``; keeper = the page
    whose url IS the cluster key (min id among them), else min id in
    the cluster.  Output: ``(id_col, url_col, cluster_key, is_keeper,
    cluster_size)``.

    Scale shape: the groupBy+join form, NOT a window — a window over
    ``cluster_key`` cannot be skew-split, and canonical spam (millions
    of pages declaring one target) is a real hot key; the per-cluster
    aggregate combines map-side and the join back is AQE-skew-
    splittable.  Two keyed exchanges."""
    key = F.coalesce(F.col(canon_col), F.col(url_col))
    base = pages.select(
        F.col(id_col), F.col(url_col), key.alias("cluster_key")
    )
    per = base.groupBy("cluster_key").agg(
        F.min(F.when(F.col(url_col) == F.col("cluster_key"),
                     F.col(id_col))).alias("self_keeper"),
        F.min(id_col).alias("any_keeper"),
        F.count("*").alias("cluster_size"),
    ).select(
        "cluster_key",
        F.coalesce("self_keeper", "any_keeper").alias("keeper_id"),
        "cluster_size",
    )
    return base.join(per, "cluster_key").select(
        id_col, url_col, "cluster_key",
        (F.col(id_col) == F.col("keeper_id")).alias("is_keeper"),
        "cluster_size",
    )


def pagination_chains(pages: DataFrame, url_col: str = "url",
                      html_col: str = "html",
                      max_hops: int = 64) -> DataFrame:
    """Multi-page-article stitching: map every page to the HEAD of its
    ``rel=prev`` chain and its position in it — the grouping a corpus
    pass then uses to reassemble paginated articles into ONE training
    document (concatenate by ``(head_url, page_index)``).

    Reuses the redirect resolver's pointer doubling on the prev-link
    edge set (⌈log₂ max_hops⌉ keyed self-joins, pin-bounded
    lineage — operators/graph.py:91): ``head_url`` is the chain
    terminal, ``page_index`` the exact hop count; pages with no prev
    link are their own head at index 0; cycles/over-long chains (a
    bounded walker cannot tell them apart) get NULL head with
    ``resolved = false``.

    Output: ``(url_col, head_url, page_index, resolved)``."""
    from ..kernels.links import extract_rel_pagination
    from .graph import resolve_redirects

    pg = row_udf(extract_rel_pagination, "struct<next_url:string, prev_url:string>")
    ext = pages.select(
        F.col(url_col), pg(F.col(html_col)).getField("prev_url").alias("prev")
    )
    edges = ext.where(F.col("prev").isNotNull()).select(
        F.col(url_col).alias("src"), F.col("prev").alias("dst")
    )
    res = resolve_redirects(edges, max_hops=max_hops).withColumnRenamed(
        "url", "_chain_url"
    )
    out = ext.select(url_col).join(
        res, F.col(url_col) == F.col("_chain_url"), "left"
    )
    return out.select(
        url_col,
        F.when(F.col("_chain_url").isNull(), F.col(url_col))
        .otherwise(F.col("final_url")).alias("head_url"),
        F.coalesce(F.col("n_hops"), F.lit(0)).cast("long")
        .alias("page_index"),
        F.coalesce(F.col("resolved"), F.lit(True)).alias("resolved"),
    )


def url_template_counts(pages: DataFrame,
                        url_col: str = "url") -> DataFrame:
    """Per-host URL path-template inventory: ``(host, template,
    n_urls, sample_url)`` — the site-structure table a crawl planner
    derives from the frontier (``/article/{n}`` carries the content,
    ``/tag/{n}`` is pagination chaff) before spending fetch budget.

    Template: :func:`..functions.urls.url_path_template` (whole-
    segment uuid/digits/hex placeholders, pure codegen).  Scale shape:
    ONE keyed aggregate on (host, template) with map-side partials —
    count and min combine; no window, so a mega-host's templates
    AQE-skew-split cleanly.  NULL-host rows (relative/garbage URLs)
    are dropped, counted nowhere — callers wanting them audit
    ``url_host IS NULL`` upstream."""
    from ..functions.urls import url_host, url_path_template

    base = pages.select(
        url_host(F.col(url_col)).alias("host"),
        url_path_template(F.col(url_col)).alias("template"),
        F.col(url_col),
    ).where(F.col("host").isNotNull())
    return base.groupBy("host", "template").agg(
        F.count("*").alias("n_urls"),
        F.min(url_col).alias("sample_url"),
    )
