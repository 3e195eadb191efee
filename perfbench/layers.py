"""Per-layer metrics of one traced run (``--trace 1``).

Each layer is measured from outside: timed calls into its public functions,
Spark's event log, and a single-threaded kernel sample in this process.
A metric of a layer the workload does not run reads 0.
"""

from __future__ import annotations

import random
import statistics
import time
from pathlib import Path

import pyarrow.parquet as pq

import tracing

KERNEL_SAMPLE = 1000
KERNEL_CLASSES = ("html", "pdf", "txt", "docx")


def in_session(spark, wl, units: list[dict], spans: tracing.Spans) -> dict:
    """Measurements that need the live session: extraction into a noop
    sink, for the split between extraction and write + metrics."""
    if not hasattr(wl, "pages"):
        return {"extract_only_s": 0.0}
    from doctor_spark.operators.classify import skew_repartition, with_classification
    from doctor_spark.operators.extract import extract_operator

    # the re-crawl extracts only the uncommitted half, behind the
    # pipeline's skew repartition
    sc = spark.sparkContext
    pages = skew_repartition(with_classification(wl.pages().where(~wl.committed)),
                             max(sc.defaultParallelism * 3, 8))
    spark.sparkContext.setJobGroup("extract_only", "extract_only")
    with spans.span("extract_only") as s:
        extract_operator(pages).write.format("noop").mode("overwrite").save()
    return {"extract_only_s": s["end"] - s["start"]}


def kernel_sample(cfg: dict) -> list[tuple[str, bytes, str]]:
    """(url, payload, golden) for a seeded sample of the workload's corpus;
    for the query mix, the corpus its extraction query reads."""
    if cfg["workload"] == "queries":
        import __spark_entry__ as entry
        from doctor_spark.corpus import generate_page

        pages = [generate_page(i) for i in range(entry.CORPUS_N)]
        return [(p["url"], p["html"], p["text"]) for p in pages]
    table = pq.read_table(cfg["corpus"], columns=["url", "html", "text"])
    idx = sorted(random.Random(cfg["seed"]).sample(range(table.num_rows),
                                                   min(KERNEL_SAMPLE, table.num_rows)))
    t = table.take(idx).to_pydict()
    return list(zip(t["url"], t["html"], t["text"]))


def kernels(cfg: dict) -> tuple[dict, int, int]:
    """Single-threaded ``extract_document`` ms/doc, overall and per format
    class; the sample size; golden mismatches in the sample."""
    from doctor_spark.kernels.extract import extract_document

    per: dict[str, list[float]] = {c: [] for c in KERNEL_CLASSES + ("other",)}
    mismatches = 0
    for url, payload, golden in kernel_sample(cfg):
        t0 = time.perf_counter()
        res = extract_document(url, payload, ocr_available=True)
        ms = (time.perf_counter() - t0) * 1e3
        per[res.extension if res.extension in KERNEL_CLASSES else "other"].append(ms)
        mismatches += res.content != golden
    every = [x for v in per.values() for x in v]
    out = {"kernels.ms_per_doc": statistics.fmean(every)}
    for c, v in per.items():
        out[f"kernels.{c}.ms_per_doc"] = statistics.fmean(v) if v else 0.0
    return out, len(every), mismatches


def summarize(cfg: dict, result: dict, units: list[dict], spans: tracing.Spans,
              session: dict, query_names: list[str]) -> tuple[dict, int, int, list[str]]:
    """(per-layer metrics, kernel sample size, golden mismatches in the
    sample, names of the queries whose final plan evaluates a UDF twice)."""
    log = tracing.EventLog(tracing.read_events(Path(cfg["event_dir"])))
    n = len(units)
    walls = [u["wall"] for u in units]
    wall = statistics.median(walls)
    queries = cfg["workload"] == "queries"
    groups = ["query:"] if queries else ["unit:"]

    m = {"session.start_s": result["session_start_s"], "trace.wall_s": wall}

    k, sampled, mismatches = kernels(cfg)
    m.update(k)
    import __spark_entry__ as entry

    docs = entry.CORPUS_N if queries else units[0]["items"]
    m["kernels.cpu_s"] = m["kernels.ms_per_doc"] * docs / 1e3

    b = log.python_boundary(groups, extract_only=not queries)
    for key in ("rows", "bytes_to_python", "bytes_from_python", "python_s"):
        m[f"boundary.{key}"] = b.get(key, 0) / n
    stages, exchanges, shuffle = log.extraction_stages(groups)
    task_ms = log.task_run_ms(stages)
    extract_run_s = sum(task_ms) / 1e3 / n
    m["boundary.overhead_frac"] = 1 - m["kernels.cpu_s"] / extract_run_s if extract_run_s else 0.0
    m["classify.shuffle_bytes"] = shuffle / n
    m["classify.partitions"] = len(task_ms) / n
    m["classify.task_skew"] = tracing.skew(task_ms)
    m["plan.extract_exchanges"] = max(exchanges, default=0)

    resume = spans.durations("resume_done_urls")
    verify = spans.durations("verify")
    extract_only = session["extract_only_s"]
    m["pipeline.extract_only_s"] = extract_only
    m["pipeline.write_metrics_s"] = wall - extract_only if extract_only else 0.0
    m["pipeline.resume_s"] = statistics.median(resume) if resume else 0.0
    m["pipeline.verify_s"] = statistics.median(verify) if verify else 0.0
    m["pipeline.files_written"] = statistics.median(u.get("files_written", 0) for u in units)
    m["pipeline.bytes_written_per_input_byte"] = (
        statistics.median(u.get("bytes_written", 0) for u in units) / cfg["input_bytes"]
        if cfg.get("input_bytes") else 0.0)

    t = log.spark_totals(groups)
    for key, v in t.items():
        m[f"spark.{key}"] = v if key == "peak_exec_memory_bytes" else v / n
    m["spark.slot_idle_frac"] = 1 - t["executor_run_s"] / (sum(walls) * cfg["cores"])

    for name in query_names:
        lat = [u["latency"][name] for u in units if name in u.get("latency", {})]
        m[f"query.{name}.s"] = statistics.median(lat) if lat else 0.0
        m[f"query.{name}.jobs"] = log.jobs([f"query:{name}"]) / n if queries else 0
    p = log.plan_counts(groups)
    m["plan.python_nodes"] = p["python_nodes"] / n
    m["plan.dup_python_udfs"] = p["dup_python_udfs"] / n
    dup_queries = [name for name in query_names
                   if queries and log.plan_counts([f"query:{name}"])["dup_python_udfs"]]
    return m, sampled, mismatches, dup_queries
