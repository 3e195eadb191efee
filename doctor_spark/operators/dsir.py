"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): pick raw-corpus documents whose hashed-n-gram
distribution looks like a target corpus, by importance weights under two
bag-of-hashed-ngrams models, then Gumbel-top-k resampling.  This is the
data-SELECTION stage the GPT-3/Pile/RedPajama lineage runs between
cleaning and mixing — and the TRAINABLE upgrade of the fastText-style
hashed scorer in :func:`..functions.text.quality_classifier`: same
feature space (hashing trick over uni+bigrams), same zero-shuffle
scoring plan, but the weight table is FIT from data instead of being a
stand-in.

The reference service has no selection stage (doctor extracts text;
selection is what a training pipeline does downstream), so this module
is part of the engine's LLM-data surface, not reference parity.

Exactness discipline (the lm.py/ccnet contract): every log-probability
is quantized ONCE to int64 micro-log10 by :mod:`..micro` —
``floor(log10(x)·1e6 + 0.5)``, libm ``log10`` on both engines (CPython
``math.log10`` driver-side / numpy under ``micro_udf`` / DuckDB), never
Java's — so per-document sums are associative int64 arithmetic and a
SQL oracle replays them exactly.

Scale shape (the numbers that matter at 10^12 docs):

- **fit** = ONE keyed exchange on the gram bucket (``dim`` distinct
  keys, map-side partials → at most ``dim × shuffle_partitions`` rows
  move), with target and raw folded into one pass via conditional
  aggregation — the target corpus is a deterministic md5-band of the
  raw, so no second scan;
- the fitted table is ``dim`` int64s (8 KB at the default 1024) —
  collected under the same bounded-by-contract rule as the IVF/k-means
  centroids and embedded as an array literal, so scoring ships it
  inside the plan, not through a join;
- **score** = map-only: a JVM ``aggregate`` over the gram array per
  row — zero Python, zero shuffles, whole-stage-codegen'd;
- **resample** = one tiny Arrow kernel for the Gumbel noise (libm
  log10 again) + ``TakeOrderedAndProject`` for top-k — no global sort
  exchange; the only full ordering ever materialized is the k selected
  rows.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..arrow import row_udf
from ..functions.text import _hash_bucket, tokens
from ..micro import micro, micro_udf

DIM = 1024
_U31 = 2_147_483_648  # 2^31 — the uniform grid for the Gumbel draw


def grams(col: Column) -> Column:
    """Unigrams ++ space-joined bigrams of a document — DSIR's feature
    stream (the paper's hashed n-gram model uses both orders).  Pure
    Column expression; the bigram window is ``element_at`` over a
    ``sequence``, guarded so one-token docs contribute no bigrams
    (``sequence(1, 0)`` would DESCEND, not return empty)."""
    tk = tokens(col)
    bi = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.concat(
                F.element_at(tk, i), F.lit(" "), F.element_at(tk, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(tk, bi)


def _py_grams(text: str) -> list[str]:
    """Python mirror of :func:`grams` over one document: Java-\\s+ tokens
    of ``trim(lower(text))`` (``_java_ws_tokens`` — the established
    cross-engine tokenizer mirror) ++ space-joined bigrams."""
    from .dedup import _java_ws_tokens

    toks = _java_ws_tokens(text or "")
    if len(toks) < 2:
        return toks
    return toks + [
        toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
    ]


def _fit_kernel(dim: int):
    """Arrow kernel for the fit pass: (is_t, __txt) batches → per-batch
    partial (b, c_r, c_t) bucket counts.  Replaces the JVM
    explode+transform gram build — Catalyst evaluates the higher-order
    bigram/concat/md5 lambdas INTERPRETED (the ngram-engine finding,
    BENCH/BASELINE.md), and the explode shipped one row per gram
    occurrence into the exchange; the kernel ships at most ``dim`` rows
    per batch.  Bucketing is bit-identical: 60-bit md5 prefix mod dim,
    the same bytes hashed on every engine.  The gram→bucket map is
    memoized per task (vocabulary repeats massively across documents)."""
    import hashlib

    def kernel(batches):
        bcache: dict[str, int] = {}

        def bucket(g: str) -> int:
            b = bcache.get(g)
            if b is None:
                b = int(
                    hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16
                ) % dim
                bcache[g] = b
            return b

        for pdf in batches:
            c_r: dict[int, int] = {}
            c_t: dict[int, int] = {}
            for t, is_t in zip(pdf["__txt"], pdf["is_t"]):
                if is_t:
                    for g in _py_grams(t):
                        b = bucket(g)
                        c_r[b] = c_r.get(b, 0) + 1
                        c_t[b] = c_t.get(b, 0) + 1
                else:
                    for g in _py_grams(t):
                        b = bucket(g)
                        c_r[b] = c_r.get(b, 0) + 1
            bs = list(c_r.keys())
            yield pd.DataFrame(
                {
                    "b": bs,
                    "c_r": [c_r[b] for b in bs],
                    "c_t": [c_t.get(b, 0) for b in bs],
                }
            )

    return kernel


def _lp_micro(c: int, total: int, dim: int) -> int:
    """Laplace-smoothed bucket log-prob in micro-log10: the one place
    log10 runs for the table, driver-side CPython→libm, replayed by
    DuckDB's ``floor(log10((c+1)::DOUBLE / (total+dim)) * 1e6 + 0.5)``
    bit-for-bit (same IEEE division, same libm)."""
    return micro(math.log10((c + 1) / (total + dim)))


def dsir_llr_table(
    df: DataFrame,
    target_cond: Column,
    text_col: str = "text",
    dim: int = DIM,
) -> list[int]:
    """Fit the importance model: per-bucket log-likelihood-ratio table
    ``llr[b] = lp_target[b] − lp_raw[b]`` over hashed uni+bigram
    buckets, as a ``dim``-long list of int64 micro-log10 values.

    ``target_cond`` marks the rows forming the target distribution
    (e.g. a deterministic hash band standing in for Wikipedia); the raw
    model is the whole ``df``.  ONE keyed exchange: every gram is
    counted once with a conditional target column, so the fit costs a
    single corpus scan regardless of the target's size.  The returned
    table is bounded by contract (``dim`` ints, KBs) — the caller
    embeds it as a literal, the plan ships it with the tasks."""
    counts = (
        df.select(
            target_cond.alias("is_t"), F.col(text_col).alias("__txt")
        )
        .mapInPandas(_fit_kernel(dim), "b long, c_r long, c_t long")
        .groupBy("b")
        .agg(F.sum("c_r").alias("c_r"), F.sum("c_t").alias("c_t"))
        .collect()
    )
    c_r = {int(r["b"]): int(r["c_r"]) for r in counts}
    c_t = {int(r["b"]): int(r["c_t"]) for r in counts}
    tot_r = sum(c_r.values())
    tot_t = sum(c_t.values())
    return [
        _lp_micro(c_t.get(b, 0), tot_t, dim)
        - _lp_micro(c_r.get(b, 0), tot_r, dim)
        for b in range(dim)
    ]


def dsir_scores(
    df: DataFrame,
    llr: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DIM,
) -> DataFrame:
    """Per-document importance log-weight: ``lw_micro = Σ_grams
    llr[bucket(gram)]`` — :func:`quality_classifier`'s zero-shuffle JVM
    ``aggregate`` plan with the FIT table as the weights.  Returns
    ``(id_col, n_tok, lw_micro)``; whitespace-only docs are excluded
    (they carry no feature evidence and would divide the paper's
    per-token normalization by zero).

    Implementation note (round 6): the scoring runs as ONE Arrow kernel
    per batch rather than the equivalent JVM ``aggregate`` lambda — the
    higher-order expression evaluates INTERPRETED with a per-gram
    md5→conv→element_at subtree (the ngram-engine finding), and the
    kernel memoizes each gram's llr contribution per task.  Bucket math
    is the identical 60-bit md5 prefix mod ``dim``, so the scores are
    bit-identical (pinned by the oracle)."""
    import hashlib

    llr_local = [int(v) for v in llr]

    from .dedup import _java_ws_tokens

    wcache: dict[str, int] = {}

    def w(g: str) -> int:
        v = wcache.get(g)
        if v is None:
            if len(wcache) >= 1 << 16:  # bounded: vocabulary grows per task
                wcache.clear()
            v = wcache[g] = llr_local[
                int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) % dim
            ]
        return v

    def score(t):
        toks = _java_ws_tokens(t or "")
        s = sum(map(w, toks))
        s += sum(w(toks[i] + " " + toks[i + 1]) for i in range(len(toks) - 1))
        return len(toks), s

    score_udf = row_udf(score, "struct<n_tok: bigint, lw_micro: bigint>")

    return df.where(
        F.col(text_col).isNotNull()
        & (F.length(F.trim(F.col(text_col))) > 0)
    ).select(
        F.col(id_col), score_udf(F.col(text_col)).alias("__s")
    ).select(F.col(id_col), "__s.*")


def _gumbel(h):
    """−log10(−log10 u) for the uniform draw u of grid index ``h`` — a
    Gumbel draw shifted by the constant log10(ln 10): argmax/top-k over
    (log10 w + this) is therefore EXACTLY the Gumbel-top-k set (Kool et
    al. 2019) — constant shifts cancel in the ordering — while keeping
    the whole draw inside the one libm primitive (log10) the oracle
    contract already pins."""
    return -np.log10(-np.log10((h + 0.5) / float(_U31)))


def dsir_resample(
    scored: DataFrame,
    k: int,
    salt: str = "dsir",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gumbel-top-k importance resampling: draw ``u`` from the row's
    md5 (deterministic on any engine/cluster/retry — the hash_sample
    discipline), add the Gumbel perturbation to the log-weight, keep
    the k largest keys.  Returns ``(rank, id, n_tok, lw_micro,
    key_micro)`` with rank 1-based by ``(key_micro DESC, id)``.

    The perturbation is quantized to micro-log10 so keys are exact
    int64 — replayable by SQL — and the selection runs as
    ``TakeOrderedAndProject`` (orderBy+limit), never a full sort
    exchange; the post-limit rank window touches only k rows."""
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_U31),
    )
    keyed = scored.withColumn(
        "key_micro",
        (F.col("lw_micro") + micro_udf(_gumbel, h)).cast("long"),
    )
    top = keyed.orderBy(F.col("key_micro").desc(), F.col(id_col)).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("key_micro").desc(), F.col(id_col))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        id_col,
        "n_tok",
        "lw_micro",
        "key_micro",
    )
