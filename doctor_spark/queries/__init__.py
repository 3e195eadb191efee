"""The query registry: each query is one ``q_<name>`` function in its
operator family's module, registered with its DuckDB oracle by
:func:`query`.  Relational, dedup, similarity and text queries read the
driver tables under ``sf_dir``; extraction queries run on the
self-contained pages corpus (payload and golden emitted together).

Every oracle is an *exact* ANSI-SQL mirror of its query (md5 hashing,
decimal-exact sums, fixed rounding), checked cross-engine by
tests/test_entry_contract.py.  The shared scans and oracle fragments
live here; ``__spark_entry__`` fixes the registry order."""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

CORPUS_N = 400  # fixed-size corpus for extraction queries (sf-independent)


class Query(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str


_REGISTRY: dict[str, Query] = {}


def query(oracle: str):
    """Register ``fn`` as the query ``fn.__name__.removeprefix("q_")``
    checked against the DuckDB SQL ``oracle``; returns ``fn`` unchanged."""

    def register(fn):
        name = fn.__name__.removeprefix("q_")
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} is registered twice")
        _REGISTRY[name] = Query(fn, oracle)
        return fn

    return register


def registered(order: tuple[str, ...]) -> dict[str, Query]:
    """Every family module's queries, in ``order``, which must name each
    registered query exactly once."""
    for mod in pkgutil.iter_modules(__path__):
        importlib.import_module(f"{__name__}.{mod.name}")
    if len(set(order)) != len(order) or set(order) != set(_REGISTRY):
        raise ValueError(
            f"order and registry differ: {sorted(set(order) ^ set(_REGISTRY))}"
        )
    return {name: _REGISTRY[name] for name in order}


def _corpus(spark: SparkSession, n: int = CORPUS_N) -> DataFrame:
    from doctor_spark.corpus import pages_dataframe

    return pages_dataframe(spark, n)


def _extracted(spark: SparkSession, n: int = CORPUS_N) -> DataFrame:
    from doctor_spark.operators.classify import skew_repartition, with_classification
    from doctor_spark.operators.extract import extract_operator

    pages = with_classification(_corpus(spark, n))
    return extract_operator(skew_repartition(pages), ocr_available=True)


# Scale-adaptive parallelism floor for narrow scans (guide §2.5 "input
# skew", §6).  The driver tables arrive as ONE small parquet file with one
# row group, so the scan yields a single split and every Arrow/Python map
# stage downstream runs on ONE core — at sf0.1 that was the entire wall of
# the converter queries (32 s for ~17 s of single-core kernel CPU).
# ``_spread_scan`` round-robin-repartitions to 2×defaultParallelism,
# conditional on the scan's split count so it is a NO-OP at cluster scale
# (a floor, not a tuned constant).  The spread carries no order: a query
# that must return key-ordered rows orders its OUTPUT with ``_present``.
#
# scan-width decisions per (app, table path): df.rdd.getNumPartitions()
# costs ~0.1 s of physical planning per call, and a bench session asks the
# same question about the same three files ~400 times
_SCAN_PARTS: dict[tuple[str, str], int] = {}


def _spread_scan(
    spark: SparkSession, path: str, cols: list[str] | None = None
) -> DataFrame:
    """:func:`_spread` for a parquet scan, with the split count memoized
    per (session, file) — the file's layout cannot change mid-session.
    ``cols`` projects before the exchange so only those columns shuffle
    (guide §2.3: project before the exchange)."""
    df = spark.read.parquet(path)
    if cols is not None:
        df = df.select(*cols)
    key = (spark.sparkContext.applicationId, path)
    if key not in _SCAN_PARTS:
        _SCAN_PARTS[key] = df.rdd.getNumPartitions()
    target = spark.sparkContext.defaultParallelism * 2
    if _SCAN_PARTS[key] >= target:
        return df
    return df.repartition(target)


def _present(df: DataFrame, *keys: str) -> DataFrame:
    """Order a query result by ``keys`` for the driver's ``collect()``.

    A global ``orderBy`` plans a range exchange whose bounds-sampling job
    runs the child lineage, Python stages included, once more before the
    real shuffle.  A ``SinglePartition`` exchange samples nothing, so the
    tail runs once; and it keeps lineage, so a lost executor means
    recomputing, not a failed query.  One partition costs no parallelism
    that matters: the rows go to one ``collect()`` anyway (the largest
    result, ``verified_neardup``, is 247k rows at sf1)."""
    return df.repartition(1).sortWithinPartitions(*keys)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain documents scan — the default.  Spreading is OPT-IN per query
    (``_docs_spread``): full-matrix A/B at sf0.1 showed the spread exchange
    wins ≥0.4 s only on single-pass queries whose wall is per-row
    Python/Arrow kernel work, while iterative/multi-job queries (BPE,
    PageRank, k-means — which re-execute the scan subtree every job) and
    light JVM queries regress by the exchange + 64-task stage cost."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spread documents scan for single-pass Python-kernel-heavy queries
    (measured allowlist, OPTIMIZATION_r06.md): the one-split file
    otherwise pins the whole Arrow map stage to one core.  The
    round-robin spread scrambles row order, so a query on it that
    returns ordered rows sorts its output with :func:`_present`."""
    return _spread_scan(spark, f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread: every events query is a pure-JVM aggregation where the
    # single-split scan is already fast under codegen — measured +0.5 s per
    # query from the extra exchange, zero benefit (no Python stage)
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread: similarity queries score in the JVM (zero-shuffle plans);
    # spreading the embedding arrays measured as a small regression
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# Java \s is [ \t\n\x0b\f\r]; RE2's \s EXCLUDES \x0b (vertical tab), so
# every oracle regex spells the class out explicitly — a VT in a document
# must tokenize identically on both engines (caught by the adversarial
# differential test, not by the sf tables)
_JAVA_WS_CLASS = "[ \\t\\n\\x0b\\f\\r]"
# DuckDB's trim() also strips U+00A0, U+2000-U+200A, U+3000 and the other
# Unicode space separators, Spark's trim and the kernels only U+0020; no
# text or line of the sf tables or the synthetic corpus starts or ends
# with one (tests/test_entry_contract.py::
# test_trim_divergence_excluded_by_construction)
_TOKS = f"regexp_split_to_array(trim(lower(text)), '{_JAVA_WS_CLASS}+')"
_FP = f"md5(regexp_replace(trim(lower(text)), '{_JAVA_WS_CLASS}+', ' ', 'g'))"
