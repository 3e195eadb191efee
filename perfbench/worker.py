"""One benchmark workload in one Spark session, in its own process.

Started by ``run.py`` with a JSON config path; writes a JSON result next to
it.  The process tree it measures (CPU, RSS) is itself plus the driver JVM
and the Python workers Spark forks.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import tracing


class Workload:
    """A timed unit plus its correctness check; ``unit`` is the closed-loop
    client's one request."""

    def __init__(self, spark, cfg: dict, spans: tracing.Spans) -> None:
        self.spark, self.cfg, self.spans = spark, cfg, spans
        self.run_dir = Path(cfg["run_dir"])

    def prepare(self) -> None:
        """Session-side state the units need (nothing is run)."""

    def warmup(self) -> None:
        """One untimed run first: codegen, JIT, Python worker start, imports."""
        self.unit("warmup")

    def unit(self, tag: str) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> tuple[int, int]:
        """(attempted, failed) operations for one unit's output."""
        raise NotImplementedError


class Recrawl(Workload):
    """``run_extraction_pipeline`` resuming over a pages corpus whose
    committed half is already in the output."""

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        self.n_docs = self.cfg["n_docs"]
        self.pages = lambda: self.spark.read.parquet(self.cfg["corpus"])
        # the seeded url-hash half that an earlier run already committed
        seed = self.cfg["seed"]
        self.committed = F.md5(F.concat(F.lit(f"{seed}:"), F.col("url"))).substr(1, 2) < "80"
        self.base = self.run_dir / "base"

    def warmup(self) -> None:
        from doctor_spark.pipeline import run_extraction_pipeline

        self.spark.sparkContext.setJobGroup("warmup", "warmup")
        # committing the first half is the re-crawl's warm-up run: the same
        # scan, shuffle, extraction and write, without the resume read
        run_extraction_pipeline(self.spark, self.pages().where(self.committed),
                                str(self.base), run_id="base")

    def unit(self, tag: str) -> dict:
        from doctor_spark.pipeline import run_extraction_pipeline

        out = self.run_dir / "out" / tag
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.base, out)
        before, files_before = _tree_bytes(out), _count_parquet(out / "extracted")
        self.spark.sparkContext.setJobGroup(tag, tag)
        t0 = time.monotonic()
        summary = run_extraction_pipeline(self.spark, self.pages(), str(out), run_id=tag)
        wall = time.monotonic() - t0
        return {"wall": wall, "ops": [wall], "items": self.n_docs - summary["resumed_skip"],
                "summary": summary,
                "bytes_written": _tree_bytes(out) - before,
                "files_written": _count_parquet(out / "extracted") - files_before}

    def check(self, out: dict) -> tuple[int, int]:
        """Golden mismatches (``verify_extraction``) plus urls missing or
        written more than once; every input url must appear exactly once."""
        from doctor_spark.pipeline import verify_extraction

        spark = self.spark
        spark.sparkContext.setJobGroup("verify", "verify")
        pages = self.pages()
        results = spark.read.parquet(out["summary"]["results_path"])
        rows = results.count()
        missing = pages.select("url").join(results.select("url"), "url", "left_anti").count()
        with self.spans.span("verify"):
            mismatched = verify_extraction(spark, pages, out["summary"]["results_path"])
        extra = rows - (self.n_docs - missing)
        return self.n_docs, mismatched + missing + abs(extra)


class Queries(Workload):
    """The registry query mix in a seeded order; each query's result is
    fetched to the client (``toPandas``) and compared with its oracle."""

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.registry = entry.queries()
        self.order = self.cfg["order"]

    def warmup(self) -> None:
        for name in self.cfg["warmup"]:
            self.run_query(name, "warmup")

    def run_query(self, name: str, group: str = "query"):
        self.spark.sparkContext.setJobGroup(f"{group}:{name}", f"{group}:{name}")
        return self.registry[name](self.spark, self.cfg["tables"]).toPandas()

    def unit(self, tag: str) -> dict:
        lat, results, errors = {}, {}, {}
        t0 = time.monotonic()
        for name in self.order:
            q0 = time.monotonic()
            try:
                results[name] = self.run_query(name)
            except Exception as exc:  # a failed query is counted, not fatal
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            lat[name] = time.monotonic() - q0
        wall = time.monotonic() - t0
        return {"wall": wall, "ops": list(lat.values()), "items": len(self.order),
                "latency": lat, "results": results, "errors": errors}

    def check(self, out: dict) -> tuple[int, int]:
        import inputs

        odir = Path(self.cfg["oracles"])
        failed = len(out["errors"])
        for name, df in out["results"].items():
            diff = inputs.frames_match(inputs.normalize(df), inputs.load_oracle(odir, name))
            if diff:
                out["errors"][name] = diff
                failed += 1
        out["results"] = None
        return len(self.order), failed


def _tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) if path.exists() else 0


def _count_parquet(path: Path) -> int:
    return sum(1 for _ in path.rglob("*.parquet"))


def _spark_conf(cfg: dict) -> dict:
    cache = Path(cfg["cache"])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(cache / "warehouse"),
        # the heap starts at its full size, as a long-running driver's has:
        # when G1 would grow it varies from run to run, and the peak RSS too
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={cfg['tmp_dir']} -XX:-UsePerfData -Xms{cfg['driver_mem']}",
    }
    if cfg["trace"]:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": cfg["event_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _wrap_resume(spans: tracing.Spans) -> None:
    """Time ``pipeline.resume_done_urls`` where the pipeline calls it."""
    import doctor_spark.pipeline as pipeline

    inner = pipeline.resume_done_urls

    def timed(*a, **kw):
        with spans.span("resume_done_urls"):
            return inner(*a, **kw)

    pipeline.resume_done_urls = timed


def main(cfg_path: str) -> None:
    cfg = json.loads(Path(cfg_path).read_text())
    spans = tracing.Spans()
    me = os.getpid()
    from doctor_spark.session import get_spark

    if cfg["trace"]:
        _wrap_resume(spans)
    with spans.span("get_spark"):
        spark = get_spark(f"perfbench-{cfg['workload']}", cores=cfg["cores"],
                          extra_conf=_spark_conf(cfg))
    t_session = time.monotonic()
    session_start_s = t_session - cfg["t_spawn"]

    wl = (Queries if cfg["workload"] == "queries" else Recrawl)(spark, cfg, spans)
    with spans.span("prepare"):
        wl.prepare()

    with spans.span("warmup") as w:
        wl.warmup()
    setup_s = session_start_s + (w["end"] - w["start"])

    units, cpu = [], []
    with tracing.PeakRss(me) as rss:
        t_start = time.monotonic()
        while not units or time.monotonic() - t_start < cfg["seconds"]:
            c0 = tracing.tree_cpu_s(me)
            with spans.span("unit"):
                out = wl.unit(f"unit:{len(units)}")
            cpu.append(tracing.tree_cpu_s(me) - c0)
            units.append(out)
    attempted = failed = 0
    with spans.span("check"):
        for out in units:
            a, f = wl.check(out)
            attempted, failed = attempted + a, failed + f

    walls = [u["wall"] for u in units]
    ops = [x for u in units for x in u["ops"]]
    result = {
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "walls": walls,
        "ops": ops,
        "items": units[0]["items"],
        "core_s": statistics.median(cpu),
        "peak_rss_mb": rss.peak / 2**20,
        "attempted": attempted,
        "failed": failed,
        "errors": {k: v for u in units for k, v in u.get("errors", {}).items()},
        "latency": {k: statistics.median(u["latency"][k] for u in units)
                    for k in units[0].get("latency", {})},
    }
    if cfg["trace"]:
        import layers

        session = layers.in_session(spark, wl, units, spans)
    result["pids"] = tracing.tree_pids(me)
    with spans.span("stop"):
        spark.stop()  # flushes and closes the event log
    if cfg["trace"]:
        result["layers"], sampled, mismatches, result["dup_udf_queries"] = layers.summarize(
            cfg, result, units, spans, session, cfg["query_names"])
        # the kernel sample is checked against its goldens as well
        result["attempted"] += sampled
        result["failed"] += mismatches
        if mismatches:
            result["errors"]["kernel sample"] = f"{mismatches} golden mismatches"
        spans.dump(Path(cfg["spans"]))
    result["phases"] = {name: sum(spans.durations(name)) for name in
                        ("get_spark", "prepare", "warmup", "unit", "check", "stop")}
    Path(cfg["result"]).write_text(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1])
