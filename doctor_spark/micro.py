"""The one micro-unit quantizer: a float ``y`` becomes the int64
``floor(y · scale + 0.5)``.

Every statistic that must match its DuckDB oracle bit for bit takes its
one transcendental (``log``, ``log10``, ``pow``) from libm on both
engines and quantizes the result at once with this rule; everything
after is int64 arithmetic, associative and order-free, so Spark may
combine partials in any order.  ``floor(y + 0.5)`` rather than a round
because round-half semantics differ across engines (numpy half-even,
DuckDB half-away), while ``floor`` is exact on doubles everywhere.

The caller keeps its transcendental: a ``math`` site stays on ``math``
and a numpy site on numpy, so no value moves by an ulp.  This module
owns the rounding rule and the Spark boundary, plus :func:`log10_ratio`,
the one numpy kernel that several sites pass to :func:`micro_udf`.

- :func:`micro` quantizes one Python float (driver-side constants and
  row functions).
- :func:`micro_udf` quantizes a whole Arrow batch: one scalar
  ``arrow_udf`` (an ``ArrowEvalPython`` node, eval type 250).  Its eval
  type is that of :func:`..arrow.row_udf`, so Catalyst may evaluate both
  in one node; a pandas UDF (eval type 200) never shares a node with
  them.
"""

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, functions as F

MICRO = 1_000_000


def micro(y: float) -> int:
    """``floor(y · MICRO + 0.5)``."""
    return math.floor(y * MICRO + 0.5)


def micro_udf(fn, *cols, scale: int = MICRO) -> Column:
    """The bigint Column ``floor(fn(*cols) · scale + 0.5)``: ``fn`` gets
    each argument column of a batch as a float64 numpy array and returns
    a float64 array.  Built per call, like every UDF, so the modules that
    use it import without a SparkContext."""

    def kernel(*arrays: pa.Array) -> pa.Array:
        xs = [
            np.asarray(a.to_numpy(zero_copy_only=False), dtype="float64")
            for a in arrays
        ]
        return pa.array(np.floor(fn(*xs) * scale + 0.5).astype("int64"))

    kernel.__name__ = fn.__name__  # plan label
    return F.arrow_udf(kernel, "long")(*cols)


def log10_ratio(num, den):
    """numpy/libm ``log10(num / den)`` of a batch of count ratios: the LM
    model rows, the tf-idf idf and the Naive-Bayes priors and
    likelihoods, all vocabulary-sized tables, so the Arrow hop is off
    the corpus path."""
    return np.log10(num / den)
