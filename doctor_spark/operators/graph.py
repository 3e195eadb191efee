"""Link-graph analytics for crawl prioritization — the cc-webgraph
stage of a web-corpus pipeline (Common Crawl publishes exactly this:
page/domain ranks used to order fetch frontiers and weight training
mixes).

PageRank here is EXACT and engine-portable, not float-iterative: rank
mass is held in int64 micro-units and every update is integer
arithmetic —

    r0(v)   = 1_000_000
    r_{k+1}(v) = teleport + damping_pct * (Σ_{u→v} r_k(u) DIV deg(u)) DIV 100

with DIV the truncating integer division both Spark (``F.expr("a div
b")``) and DuckDB (``//``) implement identically for non-negative
operands.  Floor-division mass leakage and vanishing dangling-node
mass are the standard simplifications (documented, deterministic);
what matters for the contract is that every engine computes the SAME
int64, so the unrolled-CTE oracle in doctor_spark/queries/linkgraph.py is hash-exact
against an ITERATIVE distributed implementation.

Scale shape: one exchange builds the degree-annotated edge table,
hash-partitioned on ``src`` and materialized (``pin`` —
every iteration re-reads it without recomputing or re-shuffling the
build side); each iteration is then a keyed equi-join ranks⋈edges on
``src`` plus one ``groupBy(dst)`` agg — the canonical Pregel-as-SQL
step.  Rank state is pinned per iteration to bound lineage
(connected-components discipline).  A hub-skewed ``dst`` is the same
hot-key problem every keyed agg here has; AQE skew handling and the
frequency-cap discipline apply unchanged.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ..arrow import row_udf
from ..micro import MICRO
from ..session import pin

START_MICRO = MICRO  # every node starts with mass 1.0
TELEPORT_MICRO = 150_000
DAMPING_PCT = 85


def _hrefs_udf():
    from ..kernels.links import extract_hrefs

    return row_udf(extract_hrefs, "array<string>")


def host_link_edges(
    pages: DataFrame,
    html_col: str = "html",
    src_host_col: str = "src_host",
) -> DataFrame:
    """HTML pages → host-level outlink edge table ``(src, dst)`` — the
    cc-webgraph ingest: every absolute http(s) ``<a href>`` on a page
    contributes one edge from the page's own host to the link target's
    host (lowercased, port/credentials stripped by
    :func:`..functions.urls.url_host`).

    Anchor extraction is the tag-soup-safe ``HTMLParser`` kernel
    (:mod:`..kernels.links`) run as ONE Arrow batch column — map-only,
    accepts str or binary html per the input contract.  Duplicate edges
    and self-loops survive here on purpose: :func:`out_degrees`
    deduplicates once, so callers composing several page sets don't pay
    a distinct per source.
    """
    edges = pages.select(
        F.col(src_host_col).alias("src"),
        F.explode(_hrefs_udf()(F.col(html_col))).alias("href"),
    )
    from ..functions.urls import url_host

    return edges.select(
        "src", url_host(F.col("href")).alias("dst")
    ).where(F.col("dst").isNotNull())


def out_degrees(edges: DataFrame) -> DataFrame:
    """Distinct (src, dst, deg) with self-loops dropped — deg counts
    DISTINCT out-neighbors."""
    e = edges.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    return e.join(deg, "src")


def resolve_redirects(edges: DataFrame, max_hops: int = 16) -> DataFrame:
    """Terminal target of every redirect chain — the canonicalization
    step a crawl runs over the ``redirect_target`` column
    :func:`..kernels.html_meta.extract_page_metadata` extracts (WHATWG
    declarative refresh) plus any 3xx edges the fetcher recorded.

    ``edges`` is ``(src, dst)``: page ``src`` redirects to ``dst``.  A
    ``src`` with several distinct targets (snapshot conflicts) keeps
    ``min(dst)`` — deterministic, engine-portable.  Each input ``src``
    yields one output row::

        (url, final_url, n_hops, resolved)

    ``resolved`` is true iff following the chain reaches a page with no
    outgoing redirect within ``max_hops`` hops (browsers give up around
    20); then ``final_url``/``n_hops`` are the terminal and the exact
    hop count.  Cycles and over-long chains — indistinguishable to a
    bounded walker, exactly like a browser's too-many-redirects — get
    ``(NULL, NULL, false)``.

    Scale shape: pointer doubling, not per-hop iteration — ⌈log₂
    max_hops⌉ self-joins on the successor key, each one keyed exchange,
    lineage bounded by ``pin`` (the connected-components
    discipline at dedup.py:407).  A 10^12-row crawl resolves 16-hop
    chains in 4 joins instead of 16; no driver-side loop state beyond
    the round counter.  Rows that reach a terminal SETTLE out of the
    probe side (a left-join miss proves the target is unmapped, i.e.
    has no outgoing redirect): a real crawl's chains are overwhelmingly
    1-2 hops, so round k's probe volume collapses toward the rare long
    tail while the build side stays whole — settled rows still serve as
    join targets so a late walker entering a settled node jumps
    straight to its terminal with the summed hop count.  The equivalent
    per-URL recursive CTE is the DuckDB oracle (in
    ``doctor_spark.queries.linkgraph``).
    """
    e = edges.groupBy("src").agg(F.min("dst").alias("dst"))
    e = pin(e.repartition(F.col("src")))
    state = e.select(
        F.col("src").alias("node"),
        F.col("dst").alias("nxt"),
        F.lit(1).cast("long").alias("hops"),
        F.lit(False).alias("settled"),
    )
    for _ in range(max(1, math.ceil(math.log2(max_hops)))):
        active = state.where(~F.col("settled"))
        done = state.where(F.col("settled"))
        succ = state.select(
            F.col("node").alias("j_node"),
            F.col("nxt").alias("j_nxt"),
            F.col("hops").alias("j_hops"),
        )
        # a miss means nxt is unmapped → terminal → hops is already the
        # TRUE distance and the row settles; a hit advances 2^k steps
        # (or jumps to a settled target's terminal in one go).
        state = pin(
            active.join(succ, active["nxt"] == succ["j_node"], "left")
            .select(
                "node",
                F.coalesce("j_nxt", "nxt").alias("nxt"),
                (F.col("hops") + F.coalesce("j_hops", F.lit(0))).alias(
                    "hops"
                ),
                F.col("j_node").isNull().alias("settled"),
            )
            .unionByName(done)
        )
    # settled rows proved terminal by the join miss; rows still active
    # after the last round need the explicit no-out-edge test (they may
    # have advanced onto a terminal in the final round).
    has_out = e.select(F.col("src").alias("t_node"))
    ok = (F.col("settled") | F.col("t_node").isNull()) & (
        F.col("hops") <= max_hops
    )
    return (
        state.join(has_out, state["nxt"] == F.col("t_node"), "left")
        .select(
            F.col("node").alias("url"),
            F.when(ok, F.col("nxt")).alias("final_url"),
            F.when(ok, F.col("hops")).cast("long").alias("n_hops"),
            ok.alias("resolved"),
        )
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 4,
    start_micro: int = START_MICRO,
    teleport_micro: int = TELEPORT_MICRO,
    damping_pct: int = DAMPING_PCT,
) -> DataFrame:
    """Integer-exact PageRank over an edge DataFrame (src, dst).

    Returns (node, rank_micro) for every node that appears as a src or
    dst.  Nodes with no in-links settle at ``teleport_micro``; dangling
    mass vanishes (simplified variant, deterministic)."""
    e, nodes = _rank_graph(edges)
    return _propagate(
        e, nodes, F.lit(start_micro), F.lit(teleport_micro), "rank_micro",
        n_iter, damping_pct,
    )


def _rank_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The degree-annotated edges hash-partitioned on ``src``, and the
    node set, both pinned once (``pin``) so every
    iteration re-reads them without recomputing or re-shuffling."""
    e = pin(out_degrees(edges).repartition(F.col("src")))
    nodes = pin(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return e, nodes


def _propagate(
    e: DataFrame,
    base: DataFrame,
    start: Column,
    teleport: Column,
    col: str,
    n_iter: int,
    damping_pct: int,
) -> DataFrame:
    """The one integer power iteration of :func:`pagerank` and
    :func:`trustrank`: ``(node, col)`` over ``base``'s nodes, starting
    at ``start`` and updated as ``teleport + (damping_pct · Σ_{u→v}
    r(u) DIV deg(u)) DIV 100``; both mass columns are evaluated over
    ``base``.  Each iteration is one ranks⋈edges equi-join on ``src``
    plus one keyed agg, state pinned per iteration."""
    ranks = base.select("node", start.alias(col))
    for _ in range(n_iter):
        contribs = (
            ranks.join(e, ranks["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                F.expr(f"{col} div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = pin(
            base.join(contribs, "node", "left")
            .select(
                "node",
                (
                    teleport
                    + F.expr(
                        f"({damping_pct} * coalesce(inflow, 0)) div 100"
                    )
                ).cast("long").alias(col),
            )
        )
    return ranks


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Link-graph degree distribution ``(side, deg, n_nodes)`` — the
    first diagnostic every webgraph release ships (cc-webgraph's
    stats files): for each node, its distinct out- and in-degree
    (self-loops dropped), rolled up into one histogram row per
    (direction, degree).

    Plan shape: ONE distinct exchange on (src, dst) shared by both
    directions (Spark reuses the exchange), then two keyed aggregates
    whose outputs are degree-histogram-sized (thousands of rows at any
    corpus size) — the union is a no-shuffle concat of two tiny
    aggregates.  Power-law skew lives in the node-degree aggregate,
    where partial (map-side) aggregation absorbs hot nodes before the
    exchange."""
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    out_h = (
        e.groupBy("src").agg(F.count("*").alias("deg"))
        .groupBy("deg").agg(F.count("*").alias("n_nodes"))
        .select(F.lit("out").alias("side"), "deg", "n_nodes")
    )
    in_h = (
        e.groupBy("dst").agg(F.count("*").alias("deg"))
        .groupBy("deg").agg(F.count("*").alias("n_nodes"))
        .select(F.lit("in").alias("side"), "deg", "n_nodes")
    )
    return out_h.unionByName(in_h)


def hits(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Integer-exact HITS (Kleinberg hubs & authorities) over an edge
    DataFrame (src, dst) — the query-independent variant webgraph
    toolkits ship next to PageRank: authorities collect hub mass over
    in-links, hubs collect authority mass over out-links, renormalized
    each half-step.

    Engine-portability: scores live in int64 micro-units and the
    normalization is L-infinity with truncating division —

        a_raw(v) = sum over u->v of h(u)
        a(v)     = (a_raw(v) * 1_000_000) DIV max_v a_raw(v)

    (and symmetrically for hubs) — every operation is integer, so the
    ITERATIVE distributed run hash-matches the unrolled-CTE oracle
    exactly.  L-inf (not the classical L2) keeps the fixed point of
    power iteration while staying in integer arithmetic; the top of
    the ranking — the artifact anybody consumes — is preserved.
    Headroom bound: a_raw <= 1e6 * indeg, and the scale-up multiplies
    by 1e6 again, so per-node degree must stay below ~9·10^6 for int64
    — beyond that a real deployment pre-caps degree (the same hot-key
    cap the postings/df discipline applies) or widens to decimal.

    Scale shape (pagerank discipline): the self-loop-free distinct
    edge table is materialized TWICE, hash-partitioned by src and by
    dst (``pin``), so each half-step's equi-join reuses
    a co-located build side instead of re-shuffling edges every
    iteration; score state is pinned per iteration to bound
    lineage.  Each half-step is one keyed agg (map-side combined,
    hub-skew absorbed) plus one scalar max.

    Returns (node, hub_micro, auth_micro) for every node.
    """
    e0 = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    e_src = pin(e0.repartition(F.col("src")))
    e_dst = pin(e_src.repartition(F.col("dst")))
    nodes = pin(
        e_src.select(F.col("src").alias("node"))
        .unionByName(e_src.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.select("node", F.lit(START_MICRO).alias("hub_micro"))

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        mx = raw.agg(F.max("raw").alias("mx"))
        return pin(
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr(
                    "(coalesce(raw, 0) * 1000000) div greatest(mx, 1)"
                ).cast("long").alias(col),
            )
        )

    auth = None
    for _ in range(n_iter):
        a_raw = (
            hub.join(e_src, hub["node"] == e_src["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub_micro").alias("raw"))
        )
        auth = _norm(a_raw, "auth_micro")
        h_raw = (
            auth.join(e_dst, auth["node"] == e_dst["dst"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth_micro").alias("raw"))
        )
        hub = _norm(h_raw, "hub_micro")
    return hub.join(auth, "node")


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 4,
    seed_micro: int = START_MICRO,
    damping_pct: int = DAMPING_PCT,
) -> DataFrame:
    """Integer-exact TrustRank (Gyongyi, Garcia-Molina & Pedersen,
    VLDB 2004) — personalized PageRank whose teleport mass lands ONLY
    on a trusted seed set, the standard link-spam demotion stage a
    crawl pipeline runs before using link rank as a quality prior:
    trust flows out of hand-verified hosts along links, and pages no
    trusted region can reach settle at zero.

        t0(v)     = seed_micro if v in seeds else 0
        t_{k+1}(v) = (15 * seed(v) * seed_micro) DIV 100
                     + (85 * sum_{u->v} t_k(u) DIV deg(u)) DIV 100

    Same engine-portable arithmetic as :func:`pagerank` (int64 micro
    mass, truncating DIV both engines implement identically on
    non-negatives; floor-leakage and vanishing dangling mass are the
    documented simplifications) — only the teleport term is seed-
    weighted instead of uniform.

    Scale shape is pagerank's verbatim: degree-annotated edges hash-
    partitioned on src and pinned once (``pin``), each iteration one
    ranks-side equi-join plus one keyed agg, state pinned per
    iteration.  ``seeds`` (one ``node`` column) is a
    curated list — thousands of rows at any corpus size — and joins by
    BROADCAST.

    Returns (node, trust_micro) for every node in the graph.
    """
    e, nodes = _rank_graph(edges)
    teleport_pct = 100 - damping_pct
    base = pin(nodes.join(
        F.broadcast(seeds.select("node").distinct()
                    .withColumn("__seed", F.lit(1))),
        "node", "left",
    ).select(
        "node",
        F.expr(
            f"({teleport_pct} * coalesce(__seed, 0) * {seed_micro}) div 100"
        ).cast("long").alias("teleport_micro"),
        (F.coalesce(F.col("__seed"), F.lit(0)) * F.lit(seed_micro))
        .cast("long").alias("t0"),
    ))
    return _propagate(
        e, base, F.col("t0"), F.col("teleport_micro"), "trust_micro",
        n_iter, damping_pct,
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    stopwords: tuple[str, ...] = (),
    min_len: int = 3,
    k: int = 50,
    n_iter: int = 4,
) -> DataFrame:
    """TextRank (Mihalcea & Tarau, EMNLP 2004) corpus keywords:
    PageRank over the word co-occurrence graph.

    Clean-room spec over the shared whitespace tokenizer: lower-cased
    tokens are kept when purely ``[a-z]{min_len,}`` and not stopwords;
    an undirected edge joins each ADJACENT pair of kept tokens (window
    w=2 on the filtered sequence, the paper's default); the graph is
    unweighted (distinct edges) and scored by the engine's integer-exact
    :func:`pagerank` (int64 micro-mass, truncating DIV), teleport/
    damping as published (0.15/0.85).  Output: the top-``k`` words by
    ``(rank_micro DESC, word ASC)`` with their dense ordering rank —
    fully deterministic, no transcendentals beyond the int64 discipline.

    Corpus-level rather than per-document: one global salient-vocabulary
    table (the crawl-audit shape — "what is this corpus about"), so the
    graph has vocabulary-many nodes and distinct-adjacent-pair-many
    edges regardless of corpus row count.

    100-TB plan: tokenize/filter/pair generation is ROW-LOCAL array
    work (zero shuffles), the edge ``distinct`` is one exchange on a
    vocabulary-bounded key set, and each PageRank iteration is the same
    keyed join/agg as :func:`pagerank` on a graph whose size is set by
    VOCABULARY, not corpus rows — the corpus-sized stage is the map-only
    scan.  Top-k is a TakeOrderedAndProject, not a global sort.
    """
    from doctor_spark.functions.text import tokens

    sw = F.array(*[F.lit(s) for s in stopwords]) if stopwords else None

    def _kept(t):
        cond = t.rlike(f"^[a-z]{{{min_len},}}$")
        if sw is not None:
            cond = cond & ~F.array_contains(sw, t)
        return cond

    kept = F.filter(tokens(F.col(text_col)), _kept)
    # adjacent pairs: zip the kept sequence with its own tail; the final
    # element zips against NULL -> least/greatest collapse to (a, a),
    # which the self-loop filter drops along with repeated-token runs
    tail = F.slice(
        kept, 2, F.greatest(F.size(kept) - F.lit(1), F.lit(0))
    )
    pair = F.zip_with(
        kept,
        tail,
        lambda a, b: F.struct(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        ),
    )
    edges_u = (
        df.select(F.explode(pair).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = edges_u.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        edges_u.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    pr = pagerank(edges, n_iter=n_iter)
    from pyspark.sql import Window

    # TakeOrderedAndProject cuts to k rows BEFORE the row_number window,
    # so the single-partition window only ever sees k rows
    top = pr.orderBy(F.col("rank_micro").desc(), F.col("node").asc()).limit(k)
    w = Window.orderBy(F.col("rank_micro").desc(), F.col("node").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("int").alias("rank"),
        F.col("node").alias("word"),
        F.col("rank_micro").cast("bigint").alias("rank_micro"),
    )


def textrank_summary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    n_iter: int = 4,
    min_shared: int = 2,
    max_sents: int = 1024,
) -> DataFrame:
    """Per-document extractive summarization — TextRank's second use
    (Mihalcea & Tarau 2004 §4): PageRank over each document's SENTENCE
    graph, keep the top-``k`` sentences.

    Clean-room spec: sentences from the engine's deterministic splitter
    (kernels/sentences.py — the same spec sentence_stats and bitext
    share); a sentence's word set is ``list_distinct`` of its
    ``[a-z]+`` runs lower-cased; an undirected unweighted edge joins two
    sentences of the SAME document sharing ``>= min_shared`` distinct
    words (the unweighted threshold form of the paper's
    overlap-normalized weight — documented simplification, exact to
    test); ranking is the engine's integer-exact :func:`pagerank` over
    nodes encoded ``doc_id * max_sents + sentence_idx`` (int64-safe for
    doc_id < 2^53/max_sents; sentence index bounded by contract).
    Output: (doc_id, sidx, rank, rank_micro, sentence) — top-k per doc
    by ``(rank_micro DESC, sidx ASC)``.  A document whose sentence
    graph has no edges (every pair shares < min_shared words) emits no
    rows, mirroring the paper's connected-node scoring.

    100-TB plan: splitting and word-set extraction are row-local (one
    Arrow pass + codegen'd regexp); the edge build is a self-join KEYED
    ON doc_id — per-partition work is sentences², bounded by document
    length, never corpus size; PageRank iterations shuffle on the node
    key exactly as the link-graph form.  Top-k is a doc_id-partitioned
    window over graph-connected sentences only.
    """
    from ..kernels.sentences import split_sentences

    _sents = row_udf(split_sentences, "array<string>")

    nodes = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(_sents(F.col(text_col))).alias("sidx", "sent"),
        )
        .where(F.col("sidx") < max_sents)
        .withColumn(
            "wset",
            F.array_distinct(
                F.expr("regexp_extract_all(lower(sent), '[a-z]+', 0)")
            ),
        )
        .withColumn(
            "node",
            (F.col("doc_id") * max_sents + F.col("sidx")).cast("long"),
        )
    )
    a = nodes.select(
        "doc_id",
        F.col("sidx").alias("sidx_a"),
        F.col("node").alias("node_a"),
        F.col("wset").alias("wset_a"),
    )
    b = nodes.select(
        "doc_id",
        F.col("sidx").alias("sidx_b"),
        F.col("node").alias("node_b"),
        F.col("wset").alias("wset_b"),
    )
    und = (
        a.join(b, "doc_id")
        .where(
            (F.col("sidx_a") < F.col("sidx_b"))
            & (
                F.size(F.array_intersect("wset_a", "wset_b"))
                >= F.lit(min_shared)
            )
        )
        .select(F.col("node_a").alias("src"), F.col("node_b").alias("dst"))
    )
    edges = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(edges, n_iter=n_iter)
    from pyspark.sql import Window

    scored = pr.select(
        F.expr(f"node div {max_sents}").cast("long").alias("doc_id"),
        (F.col("node") % max_sents).cast("int").alias("sidx"),
        F.col("rank_micro").cast("bigint").alias("rank_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("rank_micro").desc(), F.col("sidx").asc()
    )
    top = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    return top.join(
        nodes.select("doc_id", "sidx", "sent"), ["doc_id", "sidx"]
    ).select(
        "doc_id",
        "sidx",
        F.col("rank").cast("int").alias("rank"),
        "rank_micro",
        F.col("sent").alias("sentence"),
    )


def seed_distances(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 4,
) -> DataFrame:
    """Multi-source BFS depth — crawl depth from a seed set, the
    frontier feature every crawl scheduler and spam study keys on
    (pages far from any trusted seed are fetched later and weighted
    down; TrustRank's teleport set is exactly such a seed set).

    Unrolled Bellman-Ford relaxation with unit edge weights:

        d_0(v)     = 0 if v ∈ seeds
        d_{k+1}(v) = min(d_k(v), 1 + min over edges u→v of d_k(u))

    After ``n_iter`` rounds every node within ``n_iter`` hops of a seed
    carries its EXACT hop distance; farther nodes are absent from the
    output (a bounded walker cannot distinguish depth n_iter+1 from
    unreachable — same contract as resolve_redirects' hop cap).  All
    arithmetic is int64; min-aggregation is order-free, so the
    distributed iteration hash-matches the unrolled-CTE oracle.

    Scale shape: the edge table is degree-free (no prep beyond one
    repartition+pin on src); each round is ONE keyed equi-join
    state⋈edges plus ONE min-aggregate — the Pregel step pagerank and
    the components iteration already use, lineage bounded per round by
    ``pin``.  State size is monotone in reached nodes only,
    so early rounds are seed-sized, not graph-sized — the fan-out a
    real frontier has.
    """
    e = pin(
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(F.col("src"))
    )
    state = seeds.select(
        F.col(seeds.columns[0]).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).distinct()
    for _ in range(n_iter):
        contribs = (
            state.join(e, state["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.lit(1)).alias("dist"),
            )
        )
        state = pin(
            state.unionByName(contribs)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return state.select("node", F.col("dist").cast("long").alias("depth"))
