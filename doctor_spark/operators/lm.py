"""CCNet-style n-gram language-model perplexity filtering, distributed.

The CCNet pipeline (Wenzek et al. 2019) scores every Common-Crawl
document with a KenLM 5-gram model trained on Wikipedia and buckets the
corpus into head/middle/tail by per-language perplexity terciles — the
single most load-bearing quality gate in that lineage of training-data
recipes (CCNet, cc_net, RedPajama, FineWeb ablations all carry it).
The reference repo has no LM stage; this module is part of the
training-pipeline operator family the brief asks for beyond reference
parity.

Everything here is engine-portable by construction so the DuckDB oracle
can replay it bit-for-bit:

* tokenization is the repo-wide Java-``\\s`` convention
  (``_java_ws_tokens`` — trim ASCII spaces, lower, split on
  ``[ \\t\\n\\x0b\\f\\r]+`` keeping trailing empties);
* n-grams join on the 60-bit md5-prefix keys the dedup family uses
  (``int(md5(gram)[:15 hex], 16)`` == DuckDB
  ``('0x' || substr(md5(g), 1, 15))::BIGINT``);
* log-probabilities are quantized ONCE per model row to integer
  micro-log10 units by :mod:`..micro` — ``floor(log10(c/denom) * 1e6 +
  0.5)`` as int64 — and every downstream sum is int64: exact,
  associative, identical on any engine and any partitioning.  The only
  cross-engine float op left is log10 itself, computed by numpy (C
  libm) on the Spark side — deliberately NOT ``F.log10`` (Java's
  Math.log10 may differ from libm in the last ulp) — and by DuckDB
  (also libm) in the oracle.

Model: stupid backoff (Brants et al. 2007), the score KenLM-scale
corpus LMs actually use at trillion-token scale because it needs no
discounting pass:

    S(w | ctx)   = c(ngram) / c(ctx)          if c(ngram) > 0
                 = alpha * S(w | shorter ctx)  otherwise

At position ``pos`` (0-based) the highest attempted order is
``att = min(pos + 1, order)``; a match at order ``m`` scores
``lp_m + (att - m) * log10(alpha)``; a token unseen even as a unigram
scores ``log10(1/N) + (att - 1) * log10(alpha)`` (``N`` = reference
corpus token count).

100-TB plan shape
-----------------
* ``train_ngram_lm``: one Arrow kernel emits (ord, gram-hash,
  context-hash) for every position x order, ONE exchange for the
  (ord, gh, ctx) count, then one 60-bit-keyed equi-join per order
  level for the denominator (counts_k ⋈ counts_{k-1}) — all keyed
  shuffles, no broadcast of anything unbounded.  The token-total ``N``
  is one scalar action (bounded by contract, like the IVF centroid
  collect).
* ``score_perplexity``: map-only candidate expansion (one Arrow kernel
  per doc → arrays_zip → ONE explode), then the per-order model joins.
  With ``broadcast_model=True`` (default — a min_count-pruned stupid-
  backoff model is exactly the thing KenLM ships to every node as a
  file) all three joins are broadcast-hash in ONE map stage and the
  only exchange is the final groupBy(id).  Set it False when the model
  outgrows executor memory: the joins become 60-bit-keyed shuffles.
* ``perplexity_buckets``: per-language NTILE(3) — one exchange on the
  language column; CCNet's head/middle/tail.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf
from ..micro import MICRO, log10_ratio, micro, micro_udf
from ..session import pin
from .dedup import _java_ws_tokens


def _hash60(b: bytes) -> int:
    from hashlib import md5

    return int.from_bytes(md5(b).digest()[:8], "big") >> 4


def _gram_counts_udf(order: int):
    """Arrow kernel: for each doc emit, for every position and every
    m ∈ [1, min(pos+1, order)], the m-gram ending at that position as
    (ord, gram string, (m-1)-prefix string — None for unigrams).  The
    60-bit keys are added JVM-side by the caller (:func:`_hash60_col`,
    the hybrid-engine split).  Struct of parallel arrays so ONE UDF
    evaluation feeds arrays_zip + explode."""

    def grams(text):
        tk = _java_ws_tokens(text or "")
        o_l: list[int] = []
        g_l: list[str] = []
        c_l: list[str | None] = []
        for pos in range(len(tk)):
            for m in range(1, min(pos + 1, order) + 1):
                o_l.append(m)
                g_l.append(" ".join(tk[pos - m + 1 : pos + 1]))
                c_l.append(" ".join(tk[pos - m + 1 : pos]) if m > 1 else None)
        return o_l, g_l, c_l

    return row_udf(grams, "struct<ord: array<int>, g: array<string>, cx: array<string>>")


def _hash60_col(c):
    """JVM codegen 60-bit md5 prefix — the dedup-family convention,
    bit-identical to :func:`_hash60` and the oracle's
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def _candidates_udf(order: int):
    """Arrow kernel for scoring: per doc, one entry per position with the
    gram STRING at every order 1..min(pos+1, order) (None above), again
    as struct-of-arrays for a single evaluation; g[m] is the m-gram
    ending at pos (g1 is the token array itself, shipped as-is), hashed
    JVM-side by the caller."""
    fields = ", ".join(f"g{m}: array<string>" for m in range(1, order + 1))

    def cands(text):
        tk = _java_ws_tokens(text or "")
        n = len(tk)
        higher = [
            [" ".join(tk[p - m + 1 : p + 1]) if p + 1 >= m else None for p in range(n)]
            for m in range(2, order + 1)
        ]
        return (list(range(n)), tk, *higher)

    return row_udf(cands, f"struct<pos: array<int>, {fields}>")


def train_ngram_lm(
    ref: DataFrame,
    text_col: str = "text",
    order: int = 3,
    min_count: int = 1,
) -> tuple[DataFrame, int]:
    """Stupid-backoff n-gram counts over a reference corpus.

    Returns ``(model, n_tokens)`` where ``model`` has columns
    ``(ord int, gh long, lp_micro long)`` — one row per surviving n-gram
    (numerator count ≥ ``min_count``; denominators use unpruned counts,
    the standard convention) — and ``n_tokens`` is the reference token
    total (drives the OOV constant).  The scalar is the one driver
    action here; everything else is lazy."""
    g = ref.where(F.col(text_col).isNotNull()).select(
        _gram_counts_udf(order)(F.col(text_col)).alias("s")
    )
    counts = (
        g.select(
            F.explode(F.arrays_zip("s.ord", "s.g", "s.cx")).alias("e")
        )
        .select(
            F.col("e.ord").alias("ord"),
            # HYBRID engine seam (the measured-2x shingle result): the
            # Arrow kernel ships gram STRINGS; the 60-bit keys come from
            # JVM codegen md5 — hashlib in the Python loop was the
            # dominant kernel cost
            _hash60_col(F.col("e.g")).alias("gh"),
            F.when(F.col("e.ord") == 1, F.lit(0).cast("long"))
            .otherwise(_hash60_col(F.col("e.cx")))
            .alias("ctx"),
        )
        .groupBy("ord", "gh", "ctx")
        .agg(F.count("*").alias("c"))
    )
    # pin the counts ONCE: they are referenced by the N
    # aggregate, the unigram level and both sides of every denominator
    # join, and downstream by one broadcast build per order — without
    # this the reference corpus would be re-tokenized for each of those
    # subtrees (AQE's exchange reuse does not rescue plans that fork
    # above the exchange).  The pin also truncates the Arrow-UDF
    # lineage.  Counts are model-table-sized (the reference corpus in a
    # CCNet recipe is the small curated side, not the crawl).
    counts = pin(counts)
    n_tokens = (
        counts.where(F.col("ord") == 1)
        .agg(F.sum("c").alias("n"))
        .collect()[0]["n"]
        or 0
    )
    uni = counts.where(F.col("ord") == 1).select(
        "ord", "gh", "c", F.lit(int(n_tokens)).alias("den")
    )
    levels = [uni]
    for m in range(2, order + 1):
        lower = counts.where(F.col("ord") == m - 1).select(
            F.col("gh").alias("den_gh"), F.col("c").alias("den")
        )
        levels.append(
            counts.where(F.col("ord") == m)
            .join(lower, F.col("ctx") == F.col("den_gh"), "inner")
            .select("ord", "gh", "c", "den")
        )
    stacked = levels[0]
    for lv in levels[1:]:
        stacked = stacked.unionByName(lv)
    model = stacked.where(F.col("c") >= min_count).select(
        "ord",
        "gh",
        micro_udf(log10_ratio, F.col("c"), F.col("den")).alias("lp_micro"),
    )
    return model, int(n_tokens)


def score_perplexity(
    docs: DataFrame,
    model: DataFrame,
    n_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: int = 3,
    alpha: float = 0.4,
    broadcast_model: bool = True,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document stupid-backoff score against ``model``.

    Output: ``(id_col, *keep_cols, n_tok, sum_lp_micro, score)`` where
    ``sum_lp_micro`` is the exact int64 sum over positions and ``score``
    the average log10-probability per token, rounded to 4 decimals
    (higher = more fluent; CCNet's perplexity is the monotone transform
    ``10^(-score)``).  Empty-token docs can't occur (the tokenizer
    yields [''] for empty text, scored like any token)."""
    a_mu = micro(math.log10(alpha))
    unk_mu = micro(math.log10(1.0 / max(n_tokens, 1)))

    c = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        *[F.col(k) for k in keep_cols],
        _candidates_udf(order)(F.col(text_col)).alias("s"),
    )
    zipped = c.select(
        id_col,
        *keep_cols,
        F.explode(
            F.arrays_zip("s.pos", *[f"s.g{m}" for m in range(1, order + 1)])
        ).alias("e"),
    ).select(
        id_col,
        *keep_cols,
        F.col("e.pos").alias("pos"),
        # hybrid seam, as in training: strings from the kernel, 60-bit
        # keys from JVM codegen md5 (null gram -> null key -> join miss)
        *[
            _hash60_col(F.col(f"e.g{m}")).alias(f"k{m}")
            for m in range(1, order + 1)
        ],
    )

    scored = zipped
    for m in range(order, 0, -1):
        side = model.where(F.col("ord") == m).select(
            F.col("gh").alias(f"mgh{m}"), F.col("lp_micro").alias(f"lp{m}")
        )
        if broadcast_model:
            side = F.broadcast(side)
        scored = scored.join(
            side, scored[f"k{m}"] == side[f"mgh{m}"], "left"
        )

    att = F.least(F.col("pos") + 1, F.lit(order))
    expr = F.lit(unk_mu) + (att - 1) * F.lit(a_mu)
    for m in range(1, order + 1):
        expr = F.when(
            F.col(f"lp{m}").isNotNull(),
            F.col(f"lp{m}") + (att - m) * F.lit(a_mu),
        ).otherwise(expr)

    return (
        scored.select(id_col, *keep_cols, expr.alias("lp"))
        .groupBy(id_col, *keep_cols)
        .agg(
            F.count("*").alias("n_tok"),
            F.sum("lp").alias("sum_lp_micro"),
        )
        .select(
            id_col,
            *keep_cols,
            "n_tok",
            "sum_lp_micro",
            F.round(
                F.col("sum_lp_micro")
                / (F.col("n_tok").cast("double") * MICRO),
                4,
            ).alias("score"),
        )
    )


def perplexity_buckets(
    scores: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head/middle/tail: per-language terciles of the score.

    NTILE(3) over (score DESC, id) within each language — highest
    average log-prob (lowest perplexity) lands in ``head``.  Ordering is
    on the double average (sum_lp_micro / (n_tok·1e6): int64-exact
    operands, one identically-defined division on either engine) with
    the id as a total-order tiebreak, so the tercile assignment is
    engine-deterministic."""
    from pyspark.sql import Window

    avg = F.col("sum_lp_micro") / (F.col("n_tok").cast("double") * MICRO)
    w = Window.partitionBy(lang_col).orderBy(avg.desc(), F.col(id_col))
    t = F.ntile(3).over(w)
    return scores.withColumn(
        "bucket",
        F.when(t == 1, F.lit("head"))
        .when(t == 2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
