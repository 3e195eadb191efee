"""Classify + url-hash repartition stage (pre-extraction).

One cheap, JVM-side column (no Python): ``salt``, a deterministic
url-hash salt and the key of the pre-extraction repartition.

Content-based mime sniffing deliberately does NOT happen here: it would
ship every payload through Arrow once just to read 8 magic bytes.  The
extract UDF classifies per batch instead (classify-then-parse inside one
Python pass — SURVEY.md §2.2 C1), and measures payload size itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# distinct salts must be >> the partition count, or balls-in-bins variance
# leaves partitions 3-4× imbalanced (observed: 64 salts → 44 non-empty
# partitions of 96, max/min doc ratio 4.4)
DEFAULT_SALTS = 4096


def with_classification(df: DataFrame, n_salts: int = DEFAULT_SALTS) -> DataFrame:
    return df.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("url")), F.lit(n_salts))
    )


def skew_repartition(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Hash repartition on the url-hash ``salt`` into ``num_partitions``.

    Every document lands in a random task whatever its crawl day, size or
    format, so per-document cost spreads evenly even when it clusters by
    day (one day of giant court PDFs) or by size.  Nothing cheaper is
    known about cost before the extract UDF sniffs the payload, and a
    range partitioning on a key that correlates with cost (crawl day,
    size) cuts equal-ROW slices, which puts the expensive run into a few
    tasks.  Every task therefore sees every day; the pipeline
    re-groups rows by day after extraction so the day-partitioned write
    stays at most T + D files (``pipeline.run_extraction_pipeline``).

    The partition count is always explicit: extraction is CPU-bound Python,
    so AQE's byte-based partition coalescing (advisory 64 MB) would collapse
    small-byte/high-cost batches onto too few cores — observed locally as a
    300-doc corpus landing in ONE task.  We want one partition per task slot
    times a small over-decomposition factor for stragglers."""
    if num_partitions is None:
        sc = df.sparkSession.sparkContext
        num_partitions = max(sc.defaultParallelism * 3, 8)
    return df.repartition(num_partitions, F.col("salt"))
