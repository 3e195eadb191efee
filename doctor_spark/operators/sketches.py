"""Count-min-sketch heavy hitters: approximate candidates, EXACT output.

The naive top-token query — ``explode(tokens) → groupBy(token) →
HAVING count ≥ T`` — shuffles EVERY token occurrence in the corpus on
the token key.  At 100 TB that exchange (trillions of rows, Zipf-skewed
keys) is the job; the answer, meanwhile, is a few thousand rows.

This module runs the textbook two-pass instead (Cormode &
Muthukrishnan 2005; Spark ships the same sketch as
``df.stat.countMinSketch``, rebuilt here because the filter pass needs
the raw matrix and the oracle needs a replayable hash family):

1. **Sketch pass**: every token expands to its ``depth`` (row, col)
   cells — all JVM codegen: ONE ``md5`` per token and row r addressed
   by hex digits [8r, 8r+8) of the digest mod width, the same
   digest-slicing trick the MinHash w128 kernel uses.  A single
   ``groupBy(r, c).count()`` merges them; partial (map-side)
   aggregation caps the exchange at ``depth × width`` rows PER
   PARTITION — a constant, independent of corpus size.
2. **Filter + exact rescore**: the merged sketch (≤ depth·width cells,
   ~128 KiB — the same bounded driver-side contract as the IVF
   centroid table) broadcast-joins back onto the token stream, one
   join per row, and ``least(cnt_0..cnt_3) >= T`` prefilters map-side.
   CMS never underestimates (all increments non-negative), so the
   candidate set is a SUPERSET of the true heavy hitters and the
   rescored output is EXACT — the sketch buys a small final exchange,
   not an approximate answer.  That is why the driver oracle is plain
   ``GROUP BY token HAVING count(*) >= T``: sketch parameters can
   never change the result, only the cost.

Sizing at 100 TB: with total token mass N and width w, each cell
over-counts by at most N/w in expectation; choosing w ≳ a few × N/T
keeps false candidates rare, and a false candidate only costs its ride
through the final (small) exchange — never a wrong row.

Zero Python in either pass: md5/conv/least are whole-stage codegen
(the repo's hybrid-engine A/B showed JVM md5 at codegen speed is the
winning half of every hash kernel).

Tokenization matches the repo-wide portable contract
(`functions/text.py` _JAVA_WS split on trim+lower — RE2/Java/DuckDB
agree on the class).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..functions.text import tokens

DEPTH = 4  # md5 yields 4 independent 8-hex-digit row hashes for free


def explode_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token) rows: Java-\\s+ split of the trimmed, lowered text,
    empty tokens dropped.  Map-side only — no exchange."""
    toks = tokens(F.col(text_col))
    return (
        df.select(F.explode(toks).alias("token"))
        .where(F.col("token") != "")
    )


def _row_col(token: F.Column, r: int, width: int) -> F.Column:
    """Sketch column for row r: hex digits [8r, 8r+8) of md5(token),
    as an unsigned 32-bit value mod width.  Pure codegen."""
    h = F.substring(F.md5(F.encode(token, "UTF-8")), 1 + 8 * r, 8)
    return (F.conv(h, 16, 10).cast("long") % F.lit(width)).cast("int")


def cms_sketch_df(tokens: DataFrame, width: int = 4096) -> DataFrame:
    """The merged count-min sketch as a (r, c, cnt) cell table.

    One exchange whose input is map-side combined to ≤ DEPTH·width
    cells per partition."""
    tok = F.col("token")
    cells = tokens.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("r"),
                    _row_col(tok, r, width).alias("c"),
                )
                for r in range(DEPTH)
            ])
        ).alias("cell")
    )
    return (
        cells.groupBy(F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_matrix(sketch_df: DataFrame, width: int = 4096) -> np.ndarray:
    """Driver-side DEPTH × width matrix (bounded collect — the sketch is
    a constant-size summary).  Used by tests and by callers that want
    point estimates without a join."""
    sk = np.zeros((DEPTH, width), dtype=np.int64)
    for row in sketch_df.collect():
        sk[row["r"], row["c"]] = row["cnt"]
    return sk


def cms_estimate(sk: np.ndarray, token: str) -> int:
    """Point estimate for one token against a driver-side matrix (test
    helper; the distributed path never calls per-token Python)."""
    import hashlib

    depth, width = sk.shape
    d = hashlib.md5(token.encode("utf-8")).digest()
    return int(min(
        sk[r, int.from_bytes(d[4 * r: 4 * r + 4], "big") % width]
        for r in range(depth)
    ))


def heavy_hitters(
    df: DataFrame,
    threshold: int,
    width: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """EXACT tokens with corpus frequency ≥ threshold, via CMS prefilter
    + exact rescore of the surviving candidates.

    Output: (token, cnt).  Identical rows to the naive full groupBy —
    the sketch only shrinks the exchange (candidate occurrences instead
    of the whole token stream)."""
    tokens = explode_tokens(df, text_col)
    # ONE sketch job; the matrix is a constant-size summary, so the
    # collect is bounded and the per-row cell tables below are literal
    # (re-referencing the aggregation DataFrame in four joins would
    # re-run the corpus scan four times)
    sk = cms_matrix(cms_sketch_df(tokens, width), width)
    spark = df.sparkSession

    # broadcast the (tiny) per-row cell tables onto the token stream:
    # est(token) = min over rows of its cell counts; a token that
    # occurs always hits all its cells, so the joins are inner
    probe = tokens
    for r in range(DEPTH):
        nz = np.nonzero(sk[r])[0]
        cells_r = spark.createDataFrame(
            [(int(c), int(sk[r, c])) for c in nz],
            f"c{r} int, v{r} long",
        )
        probe = probe.withColumn(f"c{r}", _row_col(F.col("token"), r, width))
        probe = probe.join(F.broadcast(cells_r), f"c{r}", "inner")
    est = F.least(*[F.col(f"v{r}") for r in range(DEPTH)])
    candidates = probe.where(est >= F.lit(threshold)).select("token")
    return (
        candidates.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= F.lit(threshold))
    )
