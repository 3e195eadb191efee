"""Structured Streaming extraction: drain-pending semantics, exactly-once
file-level resume, windowed metrics."""

import pytest
from pyspark.sql import functions as F

from doctor_spark.corpus import pages_dataframe
from doctor_spark.streaming.pipeline import streaming_extract, streaming_metrics


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src, out, ckpt = str(root / "src"), str(root / "out"), str(root / "ckpt")
    pages_dataframe(spark, 60, partitions=2).write.mode("overwrite").parquet(src)
    return src, out, ckpt


def test_streaming_extract_and_resume(spark, dirs):
    src, out, ckpt = dirs
    streaming_extract(spark, src, out, ckpt)
    first = spark.read.parquet(out)
    assert first.count() == 60
    assert first.where(F.col("content") != "").count() > 0

    # append a new drop; re-run processes ONLY the new files
    pages_dataframe(spark, 20, partitions=1).write.mode("append").parquet(src)
    streaming_extract(spark, src, out, ckpt)
    again = spark.read.parquet(out)
    # 60 original + 20 new + 60 duplicated? No: checkpoint skips the first
    # files, so exactly 60 + 20 (the 20-doc drop reuses ids 0-19 -> urls
    # repeat, but file-level exactly-once means no re-processing)
    assert again.count() == 80


def test_streaming_windowed_metrics(spark, dirs, tmp_path):
    from doctor_spark.streaming.pipeline import metrics_snapshot

    src, _out, _ckpt = dirs
    mdir = str(tmp_path / "metrics")
    q = streaming_metrics(spark, src, mdir)
    q.awaitTermination()
    rows = metrics_snapshot(spark, mdir).collect()
    assert rows
    assert sum(r.n_pages for r in rows) == 80
    assert all(r.bytes_in > 0 for r in rows)


def test_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization must agree with the batch
    window-function sessionization on CLOSED sessions."""
    from doctor_spark.streaming.sessionize import streaming_sessionize

    src = str(tmp_path / "events_src")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .parquet(src)
    )
    q = streaming_sessionize(stream, query_name="sess_t")
    q.awaitTermination()
    got = spark.sql(
        "select user_id, session_no, n_events from sess_t"
    ).collect()
    assert got, "no closed sessions emitted"

    # batch truth (same gap rule); streaming emits all but each user's
    # final (still-open) session in a single availableNow batch
    import __spark_entry__ as e

    batch = e.queries()["events_sessionize"](spark, "/root/testdata/sf0.001").collect()
    batch_sessions = {(r.user_id, r.session_no): r.n_events for r in batch}
    open_sessions = {}
    for r in batch:
        k = r.user_id
        if k not in open_sessions or r.session_no > open_sessions[k]:
            open_sessions[k] = r.session_no

    for r in got:
        assert (r.user_id, r.session_no) in batch_sessions
        assert r.n_events == batch_sessions[(r.user_id, r.session_no)]
    # every non-final batch session must have been emitted
    expected_closed = {
        k for k in batch_sessions if k[1] < open_sessions[k[0]]
    }
    assert {(r.user_id, r.session_no) for r in got} == expected_closed


def test_drain_open_sessions(spark, tmp_path):
    """After an availableNow drain, drain_open_sessions must flush each
    user's final open session so streaming equals FULL batch
    sessionization — the end-of-stream gap the round-2 docstring only
    documented."""
    from doctor_spark.streaming.sessionize import (
        drain_open_sessions,
        streaming_sessionize,
    )

    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.parquet(src)

    out = str(tmp_path / "sessions_out")

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = streaming_sessionize(stream, checkpoint=ckpt, out_dir=out)
    q.awaitTermination()
    closed = spark.read.parquet(out).collect()

    final = drain_open_sessions(spark, ckpt).collect()
    assert final, "no open sessions drained"
    all_rows = list(closed) + list(final)

    import __spark_entry__ as e

    batch = e.queries()["events_sessionize"](spark, "/root/testdata/sf0.001").collect()
    batch_map = {
        (r.user_id, r.session_no): (r.n_events, float(r.total_value))
        for r in batch
    }
    got_map = {
        (r.user_id, r.session_no): (r.n_events, r.total_value)
        for r in all_rows
    }
    assert got_map == batch_map


def test_streaming_metrics_no_double_count_across_batches(spark, tmp_path):
    """A window updated by several micro-batches must appear ONCE in the
    snapshot with its final aggregate (the memory sink appended one row
    per update and consumers double-counted)."""
    from doctor_spark.streaming.pipeline import metrics_snapshot, streaming_metrics

    src = str(tmp_path / "pages_src")
    # same crawl day split across MANY files; maxFilesPerTrigger=8 forces
    # multiple micro-batches all updating the same window
    pages_dataframe(spark, 120, partitions=30).write.mode("overwrite").parquet(src)
    # decade-wide watermark: the synthetic warc_ts spans days across
    # unordered files, and a tight watermark would (correctly) drop rows
    # that arrive late relative to earlier batches
    mdir = str(tmp_path / "metrics")
    q = streaming_metrics(spark, src, mdir, watermark="3650 days")
    q.awaitTermination()
    snap = metrics_snapshot(spark, mdir).collect()
    assert sum(r.n_pages for r in snap) == 120
    assert len({r.window_start for r in snap}) == len(snap)


def test_streaming_metrics_sink_survives_restart(spark, tmp_path):
    """The metrics sink is STORAGE, not driver memory: a second run (the
    restart analog — fresh query object, same metrics table) must upsert
    by window, never duplicate, and the final aggregates must equal a
    batch recompute over everything ingested."""
    from doctor_spark.streaming.pipeline import metrics_snapshot, streaming_metrics

    src = str(tmp_path / "pages_src")
    mdir = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "m_ckpt")
    pages_dataframe(spark, 60, partitions=4).write.mode("overwrite").parquet(src)
    streaming_metrics(
        spark, src, mdir, watermark="3650 days", checkpoint_dir=ckpt
    ).awaitTermination()
    first = {
        r.window_start: r.n_pages
        for r in metrics_snapshot(spark, mdir).collect()
    }
    assert sum(first.values()) == 60

    # "restart": new drop lands, a new query resumes from the checkpoint
    # and merges into the SAME table
    pages_dataframe(spark, 90, partitions=3).write.mode("append").parquet(src)
    streaming_metrics(
        spark, src, mdir, watermark="3650 days", checkpoint_dir=ckpt
    ).awaitTermination()
    snap = metrics_snapshot(spark, mdir)
    got = {r.window_start: (r.n_pages, r.bytes_in) for r in snap.collect()}
    # exactly one row per window, totals match a batch recompute
    assert len(got) == snap.count()
    batch = {
        r.window_start: (r.n_pages, r.bytes_in)
        for r in spark.read.parquet(src)
        .groupBy(F.window("warc_ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("html")).alias("bytes_in"),
        )
        .select(F.col("w.start").alias("window_start"), "n_pages", "bytes_in")
        .collect()
    }
    assert got == batch


def test_streaming_extract_kill_midbatch_exactly_once(spark, tmp_path):
    """Round-4 verdict item 7: kill the extraction stream between/inside
    micro-batches, resume from the checkpoint, and prove EXACT result
    parity with the batch operator — no lost rows, no duplicates.

    The file sink's ``_spark_metadata`` commit log is what makes an
    interrupted batch invisible to readers: files written by a batch that
    never committed are not listed, and the restart re-emits that batch
    deterministically."""
    import time

    from doctor_spark.operators.extract import extract_operator

    src = str(tmp_path / "src")
    # 40 files x maxFilesPerTrigger=8 -> 5 micro-batches
    pages_dataframe(spark, 200, partitions=40).write.mode(
        "overwrite"
    ).parquet(src)

    # the kill races the drain; retry with fresh sink/checkpoint until it
    # lands mid-stream (first attempt wins in practice — 5 scheduled
    # micro-batches take seconds, the poll fires after the first commit)
    for attempt in range(3):
        out = str(tmp_path / f"out{attempt}")
        ckpt = str(tmp_path / f"ckpt{attempt}")
        query = streaming_extract(
            spark, src, out, ckpt, await_termination=False
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            if any(p["numInputRows"] > 0 for p in query.recentProgress):
                break
            time.sleep(0.05)
        query.stop()  # interrupts whatever batch is in flight
        query.awaitTermination()
        progressed = sum(p["numInputRows"] for p in query.recentProgress)
        if progressed < 200:
            break
    else:
        pytest.fail("kill landed after full drain in all 3 attempts")

    # restart from the same checkpoint and drain the remainder
    streaming_extract(spark, src, out, ckpt)

    got = spark.read.parquet(out)
    # exactly-once: every url exactly once
    assert got.count() == 200
    assert got.select("url").distinct().count() == 200
    # value parity with the batch operator, row for row
    batch = extract_operator(
        spark.read.parquet(src), ocr_available=True
    ).select("url", "content", "extracted_by_ocr")
    diff = (
        got.select("url", "content", "extracted_by_ocr")
        .exceptAll(batch)
        .unionAll(batch.exceptAll(
            got.select("url", "content", "extracted_by_ocr")))
    )
    assert diff.count() == 0


def test_streaming_boilerplate_summary_matches_batch(spark, tmp_path):
    """The jusText summary operator is a stateless mapInArrow, so it must
    run unchanged under Structured Streaming and produce exactly the
    batch result on the same files."""
    from doctor_spark.kernels.boilerplate_fixtures import PAGES
    from doctor_spark.operators.boilerplate import justext_doc_summary

    src = str(tmp_path / "src")
    spark.createDataFrame(
        sorted(PAGES.items()), "url string, html string"
    ).write.parquet(src)

    batch = {r["url"]: r.asDict()
             for r in justext_doc_summary(spark.read.parquet(src)).collect()}

    stream_in = spark.readStream.schema("url string, html string").parquet(src)
    q = (justext_doc_summary(stream_in)
         .writeStream.format("memory").queryName("bp_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["url"]: r.asDict()
           for r in spark.sql("SELECT * FROM bp_stream").collect()}
    assert got == batch and len(got) == len(PAGES)
