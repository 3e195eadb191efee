"""Deterministic corpus sampling / mixing for training-data pipelines.

Training-data recipes sample and re-weight sources ("2 epochs of
wikipedia, 0.3 of common crawl").  ``DataFrame.sample`` is RNG-backed:
results change across runs, engines, retries, and partition layouts —
poison for resumable 10^12-row jobs and impossible to oracle-check.

``hash_sample`` keys the decision on the row itself: keep a row iff the
first 4 hex chars of ``md5(salt || key)`` sort below the rate threshold.
65,536 uniform buckets, reproducible everywhere (same rows survive on
any cluster size, any engine with md5, any retry), lexicographic hex
comparison so the SQL mirror is a plain string predicate.  Changing
``salt`` draws an independent sample — disjoint-ish samples for
train/validation splits come from disjoint rate windows instead
(``band=(lo, hi)``).

Pure Column expressions: whole-stage codegen, zero shuffles — sampling
10^12 rows is a map over the scan with the filter pushed tight against it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..micro import MICRO, micro_udf

BUCKETS = 65_536  # 4 hex chars


def sample_bucket(key: Column, salt: str = "") -> Column:
    """The row's 4-hex-char md5 bucket (as the hex string, '0000'-'ffff')."""
    return F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 4)


def hash_sample(
    df: DataFrame,
    key_col: str = "url",
    rate: float = 0.1,
    salt: str = "",
    band: tuple[float, float] | None = None,
) -> DataFrame:
    """Deterministic sample of ~``rate`` of the rows (or the rows whose
    bucket falls in ``band = (lo, hi)`` fractions, for carving disjoint
    train/validation splits from one hashing)."""
    lo, hi = band if band is not None else (0.0, rate)
    lo_i, hi_i = int(lo * BUCKETS), int(hi * BUCKETS)
    b = sample_bucket(F.col(key_col), salt)
    cond = b >= F.lit(f"{lo_i:04x}")
    if hi_i < BUCKETS:
        # hi = 1.0 would format as the 5-char '10000', which sorts BELOW
        # every 4-char bucket lexicographically and selected nothing; the
        # top band simply has no upper bound
        cond = cond & (b < F.lit(f"{hi_i:04x}"))
    return df.where(cond)


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    quota: int,
    key_col: str = "doc_id",
    salt: str = "",
    prefilter_rate: float | None = None,
) -> DataFrame:
    """Deterministic quota sampling per stratum — the training-mix
    builder's "N documents per (source, language)" primitive.  Rows rank
    within their stratum by ``(md5(salt || key), key)`` (the same
    engine-portable ordering :func:`hash_sample` filters on, with the key
    as an exact tiebreak) and the first ``quota`` survive.  Same salt →
    same sample on any cluster size, any engine, any retry.

    Adds ``sample_rank`` (1-based within the stratum).

    Plan shape: ONE exchange on the strata columns + a window sort.  A
    hot stratum funnels through one partition BEFORE the rank filter, so
    at 10^12 rows pass ``prefilter_rate`` — a map-side
    :func:`hash_sample` (SAME salt, so it keeps exactly the rows that
    sort first) applied before the shuffle.  With rate r, the stratum
    ships ~r·|stratum| rows; correctness requires r·|stratum| ≥ quota
    for every stratum (the prefilter keeps the LOWEST-sorting buckets,
    so the top-quota set is preserved whenever enough rows survive —
    asserted cheaply by the caller via max(sample_rank) == quota)."""
    from pyspark.sql import Window

    out = df
    if prefilter_rate is not None:
        out = hash_sample(out, key_col=key_col, rate=prefilter_rate, salt=salt)
    w = (
        Window.partitionBy(*[F.col(c) for c in strata_cols])
        .orderBy(sample_bucket(F.col(key_col), salt), F.col(key_col))
    )
    return (
        out.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= quota)
    )

# --------------------------------------------------------------------------
# temperature-based domain mixing (the "2 epochs of wikipedia, 0.3 of
# common crawl" recipe, computed instead of hand-tuned)
# --------------------------------------------------------------------------

_PW_SCALE = 1_000_000_000  # pow() quantization: 9 decimal digits


def mixture_weights(
    df: DataFrame,
    domain_col: str = "source",
    alpha: float = 0.7,
    target_rows: int | None = None,
) -> DataFrame:
    """Per-domain temperature-sampling weights, the multinomial-mixing
    stage of GPT-3/Llama-style recipes: w_d ∝ p_d^alpha (alpha < 1
    upsamples rare domains), plus the per-document expected-copy rate
    that materializes a ``target_rows``-sized corpus (default: same
    size as the input).

    Engine-portability: ``pow`` is the only cross-engine float op and
    its result is quantized IMMEDIATELY to int64 by
    :func:`..micro.micro_udf` at scale 1e9 (``pw_micro = floor(p^alpha
    * 1e9 + 0.5)``, numpy/libm on this side, DuckDB/libm in the
    oracle) — the normalizer ``z = Σ pw_micro`` is then an exact
    associative integer sum, and the copy rate is re-quantized to
    ``rate_micro`` int64 so the resampler downstream is pure integer
    arithmetic.  Output: (domain, n_docs, p, weight, rate_micro).

    Plan: ONE groupBy(domain) exchange (map-side partials — a domain
    count over 10^12 rows ships one partial row per task), then the
    domain-sized table in one partition: ``tot`` and ``z`` are sums over
    a whole-table window, so ``pw`` is evaluated once per domain (a
    self-join for ``z`` would evaluate it on both join sides)."""
    everything = Window.partitionBy()
    w = (
        df.groupBy(F.col(domain_col).alias("domain"))
        .agg(F.count("*").alias("n_docs"))
        .withColumn("tot", F.sum("n_docs").over(everything))
    )

    def pw(n, tot_):
        return np.power(n / tot_, alpha)

    w = w.withColumn(
        "pw", micro_udf(pw, F.col("n_docs"), F.col("tot"), scale=_PW_SCALE)
    ).withColumn("z", F.sum("pw").over(everything))
    tgt = (
        F.lit(int(target_rows)).cast("double")
        if target_rows is not None
        else F.col("tot").cast("double")
    )
    return w.select(
        "domain",
        "n_docs",
        F.round(F.col("n_docs") / F.col("tot"), 4).alias("p"),
        F.round(F.col("pw") / F.col("z"), 4).alias("weight"),
        F.floor(
            tgt
            * F.col("pw").cast("double")
            / (F.col("z").cast("double") * F.col("n_docs").cast("double"))
            * MICRO
            + F.lit(0.5)
        )
        .cast("long")
        .alias("rate_micro"),
    )


def temperature_resample(
    df: DataFrame,
    weights: DataFrame,
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Materialize the mixture: each document appears
    ``rate_micro // 1e6`` times plus one more iff its md5 bucket clears
    the fractional remainder — deterministic on any engine, cluster
    size, or retry (same property as :func:`hash_sample`, and exactly
    the multinomial expectation per domain).

    Pure integer codegen over a broadcast domain→rate map + one
    ``explode(sequence(...))`` — map-only at 10^12 rows, no shuffle.
    Adds ``copy_no`` (1-based)."""
    rates = F.broadcast(
        weights.select(
            F.col("domain").alias("__mix_domain"), "rate_micro"
        )
    )
    bucket_int = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    base = (F.col("rate_micro") / MICRO).cast("long")
    frac = F.col("rate_micro") % MICRO
    # keep the extra copy iff bucket/65536 < frac/1e6, cross-multiplied
    # so the comparison stays in exact int64 (65535 * 1e6 << 2^63)
    extra = (bucket_int * MICRO < frac * BUCKETS).cast("long")
    copies = base + extra
    # sequence(1, 0) would infer a DESCENDING step and yield [1, 0] —
    # zero-copy docs must produce an empty array instead
    seq = F.when(
        copies >= 1, F.sequence(F.lit(1).cast("long"), copies)
    ).otherwise(F.array().cast("array<long>"))
    return (
        df.join(rates, F.col(domain_col) == F.col("__mix_domain"), "inner")
        .withColumn("copy_no", F.explode(seq))
        .drop("__mix_domain", "rate_micro")
    )
