"""The batch extraction pipeline: scan → classify → url-hash repartition
→ extract (Arrow UDF) → day-grouped write + metrics + lineage, resumable
by url.

Topology: when the scan has too few splits, one explicit url-hash
repartition runs before extraction, so per-document cost spreads evenly
over the tasks whatever day or size it clusters on.  Every extraction
task then sees every crawl day, so before the day-partitioned write a
second, output-side shuffle groups rows by (crawl day, url-hash bucket)
with ⌈T/D⌉ buckets a day: the write opens at most T + D files (T tasks,
D days) instead of T × D.  Metrics/lineage are built-in hash aggregates
over the written results.

Resume: re-running with the same ``out_dir`` anti-joins the input against
already-extracted urls — idempotent, manifest-free (the written parquet IS
the manifest), exactly-once per url.

CLI (the verify surface)::

    python -m doctor_spark.pipeline --n-docs 2000 --out /tmp/out [--verify]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import logging
import time
from pathlib import Path

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpus import pages_dataframe
from .operators.classify import skew_repartition, with_classification

_LOG = logging.getLogger("doctor_spark.pipeline")
from .operators.extract import extract_operator


@contextlib.contextmanager
def _tolerate_own_output_corruption(spark: SparkSession):
    """Scope ignoreCorruptFiles to reads of the engine's OWN output (a
    crashed run can leave a footer-less in-flight part file there).  It
    must NOT apply to input scans — a corrupt INPUT file should fail
    loudly, not silently drop documents.  (The per-read option form is not
    honored during parquet footer/schema reads, hence the conf dance.)"""
    key = "spark.sql.files.ignoreCorruptFiles"
    old = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        spark.conf.set(key, old)


# Error classes that mean "no committed output exists yet" — a missing
# results path or a directory holding only hidden/_temporary debris (so
# schema inference finds no data files).  ANY other failure (transient
# object-store IO, permission denied, corrupt manifest) must propagate:
# treating it as fresh-start would skip the anti-join and double-write
# every previously committed row into the append-mode sink.
_FRESH_START_ERROR_CLASSES = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}


def _is_fresh_start_error(exc: BaseException) -> bool:
    if not isinstance(exc, AnalysisException):
        return False
    cls = None
    get = getattr(exc, "getErrorClass", None)
    if callable(get):
        try:
            cls = get()
        except Exception:
            cls = None
    if cls is not None:
        return cls in _FRESH_START_ERROR_CLASSES
    msg = str(exc)
    return any(tag in msg for tag in _FRESH_START_ERROR_CLASSES) or \
        "Path does not exist" in msg or "Unable to infer schema" in msg


def resume_done_urls(
    spark: SparkSession,
    results_path: str,
    pages: DataFrame,
) -> DataFrame | None:
    """The already-extracted url set for the resume anti-join, or None on
    a fresh start.

    Scale shape (the 10^12-row form):

    - existence is probed by the parquet read itself — no driver-side
      filesystem walk (``Path.glob`` is the wrong primitive on an object
      store; a missing or _temporary-only table raises and means fresh
      start).  A crash DURING the first write leaves files only under
      _temporary/, which the read cannot see (underscore paths are
      hidden) — treated as fresh start rather than failing on an
      unreadable empty table.
    - the done-set read is PARTITION-PRUNED to the input's crawl-date
      range: the output table is hive-partitioned by crawl_date, so the
      scan touches only the overlapping day directories
      (``PartitionFilters`` in the plan) and the materialized url set is
      bounded by the re-crawl window, not by the corpus's full history.
      (An Iceberg manifest read replaces this 1:1 when the sink is an
      Iceberg table.)
    - resumability is file-granular: every fully-written part file holds
      complete rows, so anti-joining against them is exactly-once per
      url; an in-flight footer-less file from a crashed run is skipped
      (corruption-tolerant scope) rather than failing resume.

    The url set is localCheckpoint-materialized inside the corruption-
    tolerant scope so the tolerant conf never applies to input scans;
    after pruning its size is proportional to one crawl window.

    Semantics: resume dedupes by url WITHIN the input's crawl-date range.
    Re-running the same interrupted input skips everything already
    written (dates identical); a url re-crawled later with a NEW warc_ts
    outside the original window is re-extracted by design — its content
    may have changed, and the date-partitioned output keeps both
    observations."""
    with _tolerate_own_output_corruption(spark):
        try:
            done = spark.read.parquet(results_path)
        except Exception as exc:
            if _is_fresh_start_error(exc):
                return None  # nothing committed yet (or _temporary-only)
            raise  # transient IO / permission error: abort, don't double-write
        if "crawl_date" in done.columns:
            try:
                bounds = pages.select(
                    F.date_format(F.min("warc_ts"), "yyyy-MM-dd").alias("lo"),
                    F.date_format(F.max("warc_ts"), "yyyy-MM-dd").alias("hi"),
                ).collect()[0]
                if bounds["lo"] is not None:
                    done = done.where(
                        F.col("crawl_date").between(bounds["lo"], bounds["hi"])
                    )
            except AnalysisException:
                # un-datable input (no warc_ts / unresolvable column): the
                # unpruned done-set is correct, just unbounded by date
                pass
            except Exception as exc:
                # transient failure probing the INPUT's date range: the
                # unpruned fallback stays exactly-once-correct (it only
                # skips MORE pruning), so degrade — but loudly, unlike the
                # done-set read above where proceeding could double-write
                _LOG.warning(
                    "resume date-bounds probe failed (%s: %s); "
                    "falling back to the unpruned done-set",
                    type(exc).__name__, exc,
                )
        # ignoreCorruptFiles (scoped above) makes the scan skip footer-less
        # in-flight debris; if ALL files were debris, schema inference
        # already raised UNABLE_TO_INFER_SCHEMA and was handled as fresh
        # start.  A failure here is a real job error — propagate it.
        return done.select("url").localCheckpoint(eager=True)


def run_extraction_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    run_id: str = "r0",
    ocr_available: bool = True,
    strip_margin: bool = False,
    recap_mode: bool = False,
    resume: bool = True,
    num_partitions: int | None = None,
    repartition: bool | str = "auto",
    sample_band: tuple[float, float] | None = None,
    sample_salt: str = "",
    output_file_buckets: int | None = None,
) -> dict:
    """Run the full pipeline; returns summary counters.

    ``repartition`` controls the url-hash shuffle before extraction
    (``operators.classify.skew_repartition``) and, with it, the
    day-grouping shuffle before a ``crawl_date``-partitioned write:

    - ``"auto"`` (default): shuffle only when the scan yields too few
      partitions to keep the cluster busy.  Parquet/WARC byte-based splits
      already balance extraction cost to first order (cost ≈ payload
      bytes), and a map-only plan avoids both the shuffle and a
      row-to-Arrow conversion penalty — measured 0.96 vs 0.74 N→4N scaling
      efficiency locally.
    - ``True``: always shuffle — for pathological inputs (few giant files,
      wild per-file skew).
    - ``False``: never shuffle.

    ``output_file_buckets`` sets the url-hash buckets per day of the
    day-grouping shuffle.  Behind the extraction shuffle it defaults to
    ⌈T/D⌉; on the map-only path the day-grouping shuffle runs only when
    it is set.

    ``sample_band=(lo, hi)`` carves a deterministic url-hash band of the
    corpus (``operators.sampling.hash_sample``) INSIDE the resumable job:
    the filter is a codegen'd predicate on md5(salt||url) applied before
    the scan fans out, so train/val splits from disjoint bands of the
    SAME hashing are disjoint by construction, identical across retries,
    resumes and cluster sizes, and each band's run keeps its own
    resume/lineage story.
    """
    out = Path(out_dir)
    results_path = str(out / "extracted")
    metrics_path = str(out / "metrics")
    lineage_path = str(out / "lineage")

    if sample_band is not None:
        from .operators.sampling import hash_sample

        pages = hash_sample(
            pages, key_col="url", salt=sample_salt, band=sample_band
        )

    classified = with_classification(pages)

    # measure the SCAN's partitioning before the resume anti-join is added:
    # a joined frame reports spark.sql.shuffle.partitions, which would push
    # every resumed run down the shuffle path "auto" exists to avoid
    scan_partitions = classified.rdd.getNumPartitions()

    already = 0
    if resume:
        done = resume_done_urls(spark, results_path, pages)
        if done is not None:
            already = done.count()
            classified = classified.join(done, "url", "left_anti")

    target = num_partitions or max(
        spark.sparkContext.defaultParallelism * 3, 8
    )
    do_shuffle = (
        repartition is True
        or (repartition == "auto" and scan_partitions < target // 2)
    )
    staged = skew_repartition(classified, target) if do_shuffle else classified
    extracted = (
        extract_operator(
            staged,
            ocr_available=ocr_available,
            strip_margin=strip_margin,
            recap_mode=recap_mode,
        )
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn("run_id", F.lit(run_id))
    )
    # Iceberg-style table layout: hive-partition the result table by
    # crawl day so downstream readers prune by date (the analog of an
    # Iceberg warc_ts day-partition spec; at 10^12 rows this is the
    # difference between scanning one day's and three years' output)
    writer = extracted.withColumn(
        "crawl_date", F.date_format("warc_ts", "yyyy-MM-dd")
    )
    buckets = output_file_buckets
    if buckets is None and do_shuffle:
        # ⌈T/D⌉ buckets a day: at most D·⌈T/D⌉ ≤ T + D files.  D is
        # counted over the whole input, an upper bound on the days
        # left after the resume anti-join, so the bound holds for
        # them.  The count is one more pass over the input: a
        # one-column read of a parquet scan, but a generated input
        # (pages_dataframe) is generated again
        days = pages.select(
            F.countDistinct(F.date_format("warc_ts", "yyyy-MM-dd"))
        ).first()[0]
        buckets = -(-target // max(days, 1))
    if buckets:
        # route rows to writers BY DATE before the partitioned write.
        # Without it every task opens a writer for every date it sees
        # — T tasks × D dates output files, which at 1000 executors ×
        # 1000 days is a 10^6-small-files-per-day explosion (and a
        # committer-rename storm on S3-style stores).  The shuffle
        # carries extracted rows, not payloads, and its tasks only
        # write (AQE sizes them by bytes); partition_id is stamped
        # upstream so lineage still names the extraction task that
        # produced each row.  On the map-only path it is opt-in:
        # measured locally (2.88M docs, local[16]) the extra
        # full-output shuffle cost more than the committer savings
        # on a single-node filesystem (74 s → 130 s wall); the trade
        # reverses where the file explosion bites.
        writer = writer.repartition(
            F.col("crawl_date"),
            F.pmod(F.xxhash64("url"), F.lit(buckets)),
        )
    writer.write.mode("append").partitionBy("crawl_date").parquet(results_path)

    # metrics + lineage + row count from the written results in ONE scan:
    # a fine-grained (run_id, extension, partition_id) pre-aggregation is
    # materialized (tiny — bounded by runs × extensions × partitions),
    # then metrics, lineage and the total are rollups of it.  The naive
    # form scanned the full output three times; at 10^12 rows that is the
    # difference between one and three passes over the result table, and
    # even at bench scale it was a measurable level-independent tail in
    # the N→4N scaling runs.  Payloads are never re-read (columnar scan,
    # content only via length()).  Runs inside the corruption-tolerant
    # scope (a stale in-flight file from a previous crash must not block
    # metrics).
    with _tolerate_own_output_corruption(spark):
        results = spark.read.parquet(results_path)
        fine = (
            results.groupBy("run_id", "extension", "partition_id")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.col("extracted_by_ocr").cast("int")).alias("n_ocr"),
                F.sum((F.col("err") != "").cast("int")).alias("n_err"),
                F.sum(F.length("content")).alias("chars_out"),
                F.count("content").alias("n_content"),
                F.sum("size_bytes").alias("input_bytes"),
                F.min("warc_ts").alias("min_ts"),
                F.max("warc_ts").alias("max_ts"),
            )
            .localCheckpoint(eager=True)
        )
        metrics = fine.groupBy("run_id", "extension").agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_ocr").alias("n_ocr"),
            F.sum("n_err").alias("n_err"),
            # identical value to avg(length(content)) on the full table,
            # INCLUDING avg()'s NULL semantics: the denominator is the
            # count of non-null contents (n_content), not row count — the
            # two only coincide while content is guaranteed non-null, and
            # a future nullable content column must skew neither way
            (F.sum("chars_out") / F.sum("n_content")).alias("avg_content_chars"),
            F.sum("input_bytes").alias("input_bytes"),
        )
        metrics.write.mode("overwrite").parquet(metrics_path)

        lineage = fine.groupBy("run_id", "partition_id").agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("input_bytes").alias("bytes_in"),
            F.sum("chars_out").alias("chars_out"),
            F.min("min_ts").alias("min_ts"),
            F.max("max_ts").alias("max_ts"),
        )
        lineage.write.mode("overwrite").parquet(lineage_path)

        total = fine.agg(F.sum("n_docs")).collect()[0][0] or 0
    return {
        "run_id": run_id,
        "total_rows": total,
        "resumed_skip": already,
        "results_path": results_path,
    }


def verify_extraction(
    spark: SparkSession, pages: DataFrame, results_path: str
) -> int:
    """Byte-identical check: count of urls whose extracted content differs
    from the golden ``text`` column (the corpus generator emits payload and
    expectation together, FIXTURES.md §1).

    Reads the engine's OWN output, so it runs inside the corruption-
    tolerant scope like the metrics/resume reads — a stale footer-less
    part file from an earlier crash must not kill the verify step after a
    successful extraction.

    Two-phase, still byte-exact: phase 1 joins (length, md5) digests —
    32-byte shuffle rows instead of full document text, which made verify
    the single largest non-scaling tail of the job (25.7 s of a 74 s
    local[16] wall at 2.88M docs) — and phase 2 re-checks only the
    suspect urls with a full-content equality join.  A hash mismatch set
    is a superset of the true mismatch set, so the exact recheck gives
    the identical count the naive full-content join produced."""
    digest = lambda c: F.struct(  # noqa: E731
        F.length(c).alias("len"), F.md5(c.cast("binary")).alias("md5")
    )
    with _tolerate_own_output_corruption(spark):
        res_digest = (
            spark.read.parquet(results_path)
            .select("url", digest(F.col("content")).alias("d"))
            .localCheckpoint(eager=True)
        )
    gold = pages.select("url", digest(F.col("text")).alias("e"))
    suspects = (
        res_digest.join(gold, "url")
        .where(~F.col("d").eqNullSafe(F.col("e")))
        .select("url")
        .localCheckpoint(eager=True)
    )
    n_suspects = suspects.count()
    if n_suspects == 0:
        return 0
    # exact recheck on the (normally tiny) suspect set only
    sus = F.broadcast(suspects) if n_suspects <= 1_000_000 else suspects
    with _tolerate_own_output_corruption(spark):
        sus_rows = (
            spark.read.parquet(results_path)
            .join(sus, "url")
            .select("url", "content")
        )
    return (
        sus_rows.join(pages.select("url", F.col("text").alias("expected")), "url")
        .where(~F.col("content").eqNullSafe(F.col("expected")))
        .count()
    )


def main() -> None:
    ap = argparse.ArgumentParser(description="doctor_spark extraction pipeline")
    ap.add_argument("--n-docs", type=int, default=1000)
    ap.add_argument("--corpus", help="existing pages parquet (overrides --n-docs)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="r0")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--recap", action="store_true",
                    help="pdfplumber+per-page-OCR hybrid flow (P6)")
    ap.add_argument("--strip-margin", action="store_true")
    ap.add_argument("--verify", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--sample-band", nargs=2, type=float, default=None,
                    metavar=("LO", "HI"),
                    help="deterministic url-hash band [LO, HI) of the "
                         "corpus to extract (train/val carving)")
    ap.add_argument("--sample-salt", default="",
                    help="salt for --sample-band hashing")
    ap.add_argument("--output-file-buckets", type=int, default=None,
                    help="pre-write repartition to N url-hash buckets per "
                         "output date partition (real-cluster committer "
                         "pressure; costs a shuffle).  Default: ceil(T/D) "
                         "behind the extraction shuffle, off without it")
    args = ap.parse_args()

    from .session import get_spark

    spark = get_spark("doctor_spark.pipeline", cores=args.cores)
    if args.corpus and args.corpus.startswith("synth:"):
        # synthetic corpus of N docs via the cluster launch path
        # (scripts/submit_extraction.sh smoke test)
        args.n_docs = int(args.corpus.split(":", 1)[1])
        args.corpus = None
    if args.corpus:
        pages = spark.read.parquet(args.corpus)
    else:
        pages = pages_dataframe(spark, args.n_docs)

    t0 = time.monotonic()
    summary = run_extraction_pipeline(
        spark, pages, args.out, run_id=args.run_id, resume=not args.no_resume,
        recap_mode=args.recap, strip_margin=args.strip_margin,
        sample_band=tuple(args.sample_band) if args.sample_band else None,
        sample_salt=args.sample_salt,
        output_file_buckets=args.output_file_buckets,
    )
    summary["wall_sec"] = round(time.monotonic() - t0, 2)
    if args.verify:
        summary["golden_mismatches"] = verify_extraction(
            spark, pages, summary["results_path"]
        )
    metrics = spark.read.parquet(str(Path(args.out) / "metrics"))
    metrics.orderBy("extension").show(truncate=False)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
