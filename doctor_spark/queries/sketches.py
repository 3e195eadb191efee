"""Sketch queries: count-min heavy hitters and integer-exact HyperLogLog."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# HLL constants — single source of truth in the operator module
from doctor_spark.operators.hll import (
    DEN_MIN as _HLL_DEN_MIN, EST_NUM as _HLL_EST_NUM, M as _HLL_M, Q as _HLL_Q,
    RHO_CAP as _HLL_RHO_CAP, RHO_MAX as _HLL_RHO_MAX,
)
from doctor_spark.queries import _TOKS, _docs, _docs_spread, _present, query


@query(oracle=f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS token FROM documents
)
SELECT token, count(*)::BIGINT AS cnt
FROM toks WHERE token <> ''
GROUP BY token HAVING count(*) >= 200
""")
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency heavy hitters: count-min-sketch candidate
    prefilter + exact rescore — output provably identical to the naive
    full groupBy (CMS never underestimates), which is exactly what the
    oracle runs.  The sketch exists to shrink the token exchange at
    crawl scale, not to approximate the answer."""
    from doctor_spark.operators.sketches import heavy_hitters

    hh = heavy_hitters(_docs_spread(spark, sf_dir), threshold=200, width=2048)
    return hh.select(
        F.col("token"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


# HLL: bit-for-bit replay of the register table and the
# scaled-integer estimator (constants imported from the module
# so the two sides can never drift)
@query(oracle=f"""
WITH pairs AS (
  SELECT 'host-' || CAST((doc_id*7 + i) % 41 AS VARCHAR) AS host,
         '/p/' || CAST((doc_id*13 + i*97)
                       % (120 + ((doc_id*7 + i) % 41) * 11) AS VARCHAR)
             AS url
  FROM documents, (SELECT unnest(range(8)) AS i)
), hashed AS (
  SELECT host, ('0x' || substr(md5(url), 1, 15))::BIGINT AS h FROM pairs
), regs AS (
  SELECT host, h >> {_HLL_Q} AS reg,
         MAX(CASE WHEN (h & ((1::BIGINT << {_HLL_Q}) - 1)) = 0
                  THEN {_HLL_RHO_MAX}
                  ELSE {_HLL_RHO_MAX} - length(printf('%b',
                       h & ((1::BIGINT << {_HLL_Q}) - 1))) END) AS rho
  FROM hashed GROUP BY host, reg
), est AS (
  SELECT host, count(*)::BIGINT AS n_regs,
         ({_HLL_M} - count(*))::BIGINT AS v_zero,
         (SUM(CASE WHEN rho <= {_HLL_RHO_CAP}
                   THEN (1::BIGINT << ({_HLL_RHO_CAP} - rho))
                   ELSE 0 END)
          + ({_HLL_M} - count(*)) * (1::BIGINT << {_HLL_RHO_CAP})
         )::BIGINT AS sum_scaled
  FROM regs GROUP BY host
)
SELECT host, n_regs, v_zero, sum_scaled,
       CASE WHEN sum_scaled >= {_HLL_DEN_MIN}
            THEN (({_HLL_EST_NUM}::HUGEINT // sum_scaled::HUGEINT)
                  // 1000000)::BIGINT
            ELSE NULL END AS est_distinct
FROM est ORDER BY host
""")
def q_hll_host_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host distinct-URL cardinality via the integer-exact
    HyperLogLog sketch (operators/hll.py): the crawl-coverage
    ``count(distinct url)`` per host WITHOUT shuffling url occurrences
    — two bounded keyed exchanges (register table with map-side max
    partials, then a per-host rollup of ≤4096 rows/key), zero Python.
    Every register and the raw estimate are replayed bit-for-bit by
    the oracle (60-bit md5-prefix hash, scaled-integer harmonic sum,
    mod-subtract exact floor division); the float linear-counting
    correction is deliberately caller-side (``hll_correct``) so the
    hashed result stays integer-exact.  Synthetic (host, url) pairs:
    8 urls per document over 41 hosts with per-host moduli."""
    from doctor_spark.operators.hll import hll_distinct

    host_id = (F.col("doc_id") * 7 + F.col("i")) % 41
    pairs = (
        _docs(spark, sf_dir)
        .select("doc_id",
                F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i"))
        .select(
            F.concat(F.lit("host-"), host_id).alias("host"),
            F.concat(
                F.lit("/p/"),
                (F.col("doc_id") * 13 + F.col("i") * 97)
                % (F.lit(120) + host_id * 11),
            ).alias("url"),
        )
    )
    out = hll_distinct(pairs, ["host"], "url")
    return _present(out, "host").select(
        "host",
        F.col("n_regs").cast("bigint").alias("n_regs"),
        F.col("v_zero").cast("bigint").alias("v_zero"),
        F.col("sum_scaled").cast("bigint").alias("sum_scaled"),
        F.col("est_distinct").cast("bigint").alias("est_distinct"),
    )
