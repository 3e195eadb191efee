"""Spark end-to-end: corpus → classify → skew repartition → extract UDF →
write/metrics/lineage → byte-identical verify → resume."""

import pytest
from pyspark.sql import functions as F

from doctor_spark.corpus import pages_dataframe
from doctor_spark.operators.classify import DEFAULT_SALTS, with_classification
from doctor_spark.pipeline import run_extraction_pipeline, verify_extraction

N = 200


@pytest.fixture(scope="module")
def pages(spark):
    return pages_dataframe(spark, N, partitions=4).cache()


def test_corpus_schema(pages):
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"
    ]
    assert pages.count() == N


def test_classification_stage(pages):
    c = with_classification(pages)
    # the salt is the only derived column: nothing downstream reads more
    assert c.columns == pages.columns + ["salt"]
    assert c.where((F.col("salt") < 0) | (F.col("salt") >= DEFAULT_SALTS)).count() == 0
    assert c.select("salt").distinct().count() > N // 2


def test_pipeline_end_to_end(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    summary = run_extraction_pipeline(spark, pages, out, run_id="t1")
    assert summary["total_rows"] == N
    assert verify_extraction(spark, pages, summary["results_path"]) == 0

    # the two-phase verify must still CATCH mismatches exactly: corrupt
    # two goldens (one appended char, one nulled) and expect exactly 2
    u1, u2 = [r.url for r in pages.select("url").orderBy("url").limit(2).collect()]
    broken = pages.withColumn(
        "text",
        F.when(F.col("url") == u1, F.concat(F.col("text"), F.lit("X")))
        .when(F.col("url") == u2, F.lit(None))
        .otherwise(F.col("text")),
    )
    assert verify_extraction(spark, broken, summary["results_path"]) == 2

    # metrics and lineage written and consistent
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.agg(F.sum("n_docs")).first()[0] == N
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.agg(F.sum("n_docs")).first()[0] == N

    # resume: second run extracts nothing new, no duplicates
    summary2 = run_extraction_pipeline(spark, pages, out, run_id="t2")
    assert summary2["resumed_skip"] == N
    assert summary2["total_rows"] == N
    results = spark.read.parquet(summary2["results_path"])
    assert results.select("url").distinct().count() == N


def test_shuffle_path_bounds_files_by_tasks_plus_days(spark, pages, tmp_path):
    """The forced-shuffle resume groups extracted rows by crawl day before
    the write: it adds at most T + D part files (not T × D), output stays
    exactly-once and byte-identical, and a resume with nothing left to
    extract still succeeds."""
    from doctor_spark.operators.classify import skew_repartition
    from doctor_spark.operators.extract import extract_operator

    T = 4
    out = tmp_path / "out"
    extracted = out / "extracted"

    def part_files():
        return set(extracted.glob("crawl_date=*/part-*.parquet"))

    half = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    n_half = half.count()
    run_extraction_pipeline(spark, half, str(out), run_id="h", repartition=False)
    before = part_files()

    s = run_extraction_pipeline(
        spark, pages, str(out), run_id="r", repartition=True, num_partitions=T
    )
    assert s["resumed_skip"] == n_half and s["total_rows"] == N
    new = spark.read.parquet(str(extracted)).where(F.col("run_id") == "r")
    D = new.select("crawl_date").distinct().count()
    assert D > T
    added = part_files() - before
    assert 0 < len(added) <= T + D, (len(added), T, D)
    # extraction itself stayed spread over all T tasks
    assert new.select("partition_id").distinct().count() == T

    assert verify_extraction(spark, pages, s["results_path"]) == 0
    results = spark.read.parquet(s["results_path"])
    assert results.groupBy("url").count().where(F.col("count") != 1).count() == 0
    assert results.count() == N
    for table in ("metrics", "lineage"):
        assert spark.read.parquet(str(out / table)).agg(
            F.sum("n_docs")).first()[0] == N

    # the one exchange below the extraction node is the url-hash salt
    staged = extract_operator(
        skew_repartition(with_classification(pages), T), ocr_available=True
    )
    staged.collect()  # runs this Dataset's own plan to its final AQE form
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==", 1)[0]
    below = final.split("MapInPandas", 1)[1]
    exchanges = [ln for ln in below.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(salt" in exchanges[0], exchanges
    assert f", {T})" in exchanges[0], exchanges

    # all-already-done resume: empty after the anti-join, nothing written
    s2 = run_extraction_pipeline(
        spark, pages, str(out), run_id="z", repartition=True, num_partitions=T
    )
    assert s2["resumed_skip"] == N and s2["total_rows"] == N
    assert part_files() == before | added


def test_day_correlated_cost_spreads_over_all_tasks(spark, pages):
    """Per-document cost that clusters on one crawl day (every PDF/DOCX
    crawled the same day) must not cluster on a few extraction tasks: a
    row-balanced split of a day-ordered key would hand that day to about
    one task in four here."""
    from doctor_spark.operators.classify import skew_repartition
    from doctor_spark.operators.extract import extract_operator

    T = 4
    costly = F.col("url").rlike(r"\.(pdf|docx)$")
    one_day = pages.withColumn(
        "warc_ts",
        F.when(costly, F.lit("2024-01-01 00:00:00").cast("timestamp"))
        .otherwise(F.col("warc_ts")),
    )
    per_task = dict(
        extract_operator(skew_repartition(with_classification(one_day), T))
        .withColumn("partition_id", F.spark_partition_id())
        .where(costly)
        .groupBy("partition_id").count().collect()
    )
    n_costly = pages.where(costly).count()
    assert sum(per_task.values()) == n_costly > 8 * T
    assert len(per_task) == T, per_task
    assert max(per_task.values()) <= 2 * n_costly / T, per_task


def test_no_python_in_relational_plan(spark, pages):
    """The classify stage must stay JVM-side (no BatchEvalPython /
    ArrowEvalPython nodes) so it whole-stage-codegens."""
    plan = with_classification(pages).select(
        "salt"
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_resume_survives_crash_during_first_write(spark, tmp_path):
    """A run killed mid-first-write leaves part files only under
    _temporary/ (or footer-less debris) — the re-run must extract
    everything fresh instead of failing on an unreadable empty table."""
    from doctor_spark.corpus import pages_dataframe
    from doctor_spark.pipeline import run_extraction_pipeline

    out = tmp_path / "out"
    tmp_dir = out / "extracted" / "_temporary" / "0" / "task_000"
    tmp_dir.mkdir(parents=True)
    (tmp_dir / "part-00000.parquet").write_bytes(b"not a real parquet file")
    # plus a footer-less stray at the root (crashed direct-commit write)
    (out / "extracted").mkdir(exist_ok=True)
    (out / "extracted" / "part-junk.parquet").write_bytes(b"PAR1garbage")

    pages = pages_dataframe(spark, 120)
    summary = run_extraction_pipeline(spark, pages, str(out), run_id="r1")
    assert summary["total_rows"] == 120
    assert summary["resumed_skip"] == 0


def test_sample_band_in_pipeline_disjoint_and_resumable(spark, tmp_path):
    """--sample-band carves train/val INSIDE the resumable job: disjoint
    bands of one hashing partition the corpus exactly, the carve is
    deterministic across a resume (re-run extracts nothing new), and each
    band equals the direct hash_sample filter."""
    from doctor_spark.corpus import pages_dataframe
    from doctor_spark.operators.sampling import hash_sample
    from doctor_spark.pipeline import run_extraction_pipeline

    N = 200
    pages = pages_dataframe(spark, N, partitions=2)
    out_a = str(tmp_path / "train")
    out_b = str(tmp_path / "val")
    s1 = run_extraction_pipeline(
        spark, pages, out_a, run_id="t", sample_band=(0.0, 0.8)
    )
    s2 = run_extraction_pipeline(
        spark, pages, out_b, run_id="v", sample_band=(0.8, 1.0)
    )
    train = {r.url for r in spark.read.parquet(f"{out_a}/extracted")
             .select("url").collect()}
    val = {r.url for r in spark.read.parquet(f"{out_b}/extracted")
           .select("url").collect()}
    every = {r.url for r in pages.select("url").collect()}
    # disjoint, and together exactly the corpus
    assert train.isdisjoint(val)
    assert train | val == every
    # band contents == the direct operator filter (same hashing)
    direct = {r.url for r in hash_sample(pages, band=(0.0, 0.8))
              .select("url").collect()}
    assert train == direct
    # resume: the carve is deterministic, so a re-run skips everything
    s3 = run_extraction_pipeline(
        spark, pages, out_a, run_id="t2", sample_band=(0.0, 0.8)
    )
    assert s3["resumed_skip"] == s1["total_rows"] == len(train)
    assert spark.read.parquet(f"{out_a}/extracted").count() == len(train)


def test_resume_probe_errors_propagate(spark, tmp_path):
    """Only missing-path / no-data-files reads mean fresh start.  Any
    OTHER probe failure (here: an unknown filesystem scheme standing in
    for a transient object-store error) must PROPAGATE — treating it as
    fresh start would skip the anti-join and double-write every
    previously committed row (advisor r3)."""
    import pytest

    from doctor_spark.corpus import pages_dataframe
    from doctor_spark.pipeline import resume_done_urls

    pages = pages_dataframe(spark, 10, partitions=1)
    # missing path → fresh start (None)
    assert resume_done_urls(spark, str(tmp_path / "never_written"), pages) is None
    # unreadable filesystem → propagate, never silently fresh-start
    with pytest.raises(Exception):
        resume_done_urls(spark, "bogus-fs://bucket/extracted", pages)


def test_resume_date_bounds_failure_degrades_with_warning(
    spark, tmp_path_factory, caplog
):
    """A transient failure probing the INPUT's date range must degrade to
    the UNPRUNED done-set with a logged warning — never silently swallowed
    (verdict r4 item 10), and never an abort (the fallback only skips
    pruning; exactly-once semantics are unchanged)."""
    import logging

    from doctor_spark.corpus import pages_dataframe
    from doctor_spark.pipeline import resume_done_urls, run_extraction_pipeline

    out = str(tmp_path_factory.mktemp("bounds_fail"))
    pages = pages_dataframe(spark, 40, partitions=1)
    run_extraction_pipeline(spark, pages, out, run_id="bf")
    results_path = f"{out}/extracted"
    n_total = spark.read.parquet(results_path).count()

    class _BoomOnSelect:
        """Stands in for `pages` whose date-range collect fails transiently."""

        columns = pages.columns

        def select(self, *a, **k):
            raise RuntimeError("simulated transient executor loss")

    with caplog.at_level(logging.WARNING, logger="doctor_spark.pipeline"):
        done = resume_done_urls(spark, results_path, _BoomOnSelect())
    assert done is not None and done.count() == n_total  # unpruned set
    assert any(
        "date-bounds" in r.message and "unpruned" in r.message
        for r in caplog.records
    ), [r.message for r in caplog.records]


def test_resume_done_set_prunes_partitions(spark, tmp_path_factory):
    """The resume done-set read must be partition-pruned to the input's
    crawl-date range: the scan's PartitionFilters carries crawl_date, the
    materialized url set is bounded by the re-crawl window (not the whole
    output history), and no driver-side filesystem walk happens (a
    missing table is probed by the read itself)."""
    from doctor_spark.corpus import pages_dataframe
    from doctor_spark.pipeline import resume_done_urls, run_extraction_pipeline

    out = str(tmp_path_factory.mktemp("prune_resume"))
    pages = pages_dataframe(spark, 120, partitions=2)
    run_extraction_pipeline(spark, pages, out, run_id="pr")
    results_path = f"{out}/extracted"
    dates = sorted(
        r.crawl_date
        for r in spark.read.parquet(results_path)
        .select("crawl_date").distinct().collect()
    )
    assert len(dates) > 1

    # narrow input to ONE crawl day → done set must contain only that day
    one_day = pages.where(
        F.date_format("warc_ts", "yyyy-MM-dd") == dates[0]
    )
    done = resume_done_urls(spark, results_path, one_day)
    n_day = spark.read.parquet(results_path).where(
        F.col("crawl_date") == dates[0]
    ).count()
    assert done is not None and done.count() == n_day < 120

    # the pruning must reach the SCAN as a partition filter (checked on
    # the pre-checkpoint plan the pipeline builds)
    with_filter = spark.read.parquet(results_path).where(
        F.col("crawl_date").between(dates[0], dates[0])
    ).select("url")
    plan = spark._jvm.PythonSQLUtils.explainString(
        with_filter._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:250]
    assert "crawl_date" in seg, seg

    # fresh start: probing a missing table returns None, never raises
    assert resume_done_urls(spark, f"{out}/nope", pages) is None
