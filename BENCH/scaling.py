"""Scaling-efficiency experiment (BASELINE.json: N vs 4N executors).

No real cluster exists in this sandbox, so per BASELINE.md the same
extraction job runs at two parallelism levels over the SAME materialized
corpus, and we report throughput at both plus
``efficiency = rate(4N) / (4 × rate(N))``.

Protocol notes (all measured, see BENCH/BASELINE.md):

- levels are **interleaved** (N, 4N, N, 4N, …) — this box's clock/thermal
  state drifts between sequential sessions and was worth ±40 % efficiency
  in back-to-back runs; interleaving cancels it (medians reported);
- pair is ``local[4]`` vs ``local[16]``: both leave the driver-JVM's
  scan/Arrow threads headroom on the shared 32-CPU box (at local[32] the
  JVM + 32 Python workers oversubscribe and per-core Python throughput
  drops ~2.4× — impossible on a real cluster with dedicated executor
  cores);
- the corpus must keep both levels compute-bound (≥ ~200 core-seconds):
  default 720k docs.

``--real-frac`` mixes replicated REAL reference-fixture documents (court
PDFs/DOCs, ~50 ms/doc vs ~0.2 ms/doc synthetic — a 250× per-row cost
skew) into the corpus and A/Bs the map-only plan against the url-hash
``skew_repartition`` shuffle plan at both parallelism levels.  This
is the 100-TB rehearsal: a real crawl's cost distribution, not the
uniform synthetic one.  With real docs the corpus should be smaller
(they dominate compute): ``--n-docs 72000 --real-frac 0.1`` ≈ 360
core-seconds of real-PDF work.

Run:  python BENCH/scaling.py [--n-docs 720000] [--n 4] [--rounds 2]
                              [--real-frac 0.1]
Writes one JSON line.
"""

from __future__ import annotations

import argparse
import itertools
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
REF_ASSETS = Path("/root/reference/doctor/test_assets")

WORKER = """
import json, sys, time
sys.path.insert(0, "@@REPO@@")
from doctor_spark.session import get_spark
from doctor_spark.operators.classify import with_classification, skew_repartition
from doctor_spark.operators.extract import extract_operator
from pyspark.sql import functions as F

cpus = int(sys.argv[1]); corpus = sys.argv[2]; mode = sys.argv[3]
spark = get_spark("scaling", cores=cpus, extra_conf={
    "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
})

def run():
    pages = spark.read.parquet(corpus)
    if mode == "skew":
        pages = skew_repartition(with_classification(pages), cpus * 3)
    ex = extract_operator(pages, ocr_available=True)
    ex.agg(F.count("*"), F.sum(F.length("content"))).collect()

run()  # warmup (codegen + python workers)
t0 = time.monotonic(); run()
print(json.dumps({"wall": round(time.monotonic() - t0, 2)}))
spark.stop()
"""


def materialize(n_docs: int, real_frac: float = 0.0) -> str:
    sys.path.insert(0, str(REPO))
    from doctor_spark.corpus import CORPUS_VERSION

    tag = f"v{CORPUS_VERSION}_n{n_docs}"
    if real_frac:
        tag += f"_real{real_frac}"
    path = Path(f"/tmp/doctor_spark_corpus/{tag}")
    if not (path / "_SUCCESS").exists():
        from doctor_spark.corpus import pages_dataframe
        from doctor_spark.session import get_spark
        from pyspark.sql import functions as F

        spark = get_spark("scaling-gen", cores=32)
        n_real = int(n_docs * real_frac)
        df = pages_dataframe(spark, n_docs - n_real, partitions=64)
        if n_real:
            if not REF_ASSETS.is_dir():
                raise SystemExit("--real-frac needs /root/reference checkout")
            payloads = [
                (p.name, p.read_bytes())
                for p in itertools.chain(
                    REF_ASSETS.glob("*.pdf"),
                    REF_ASSETS.glob("recap_documents/*.pdf"),
                    REF_ASSETS.glob("*.doc*"),
                )
            ]
            rows = [
                (f"https://real.test/{i}/{payloads[i % len(payloads)][0]}",
                 payloads[i % len(payloads)][1])
                for i in range(n_real)
            ]
            real_df = (
                spark.createDataFrame(rows, "url string, html binary")
                .withColumn(
                    "warc_ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
                )
                .withColumn("lang", F.lit("en"))
                .select("url", "warc_ts", "html", "lang")
            )
            # scatter real docs uniformly across files (a crawl's giant
            # PDFs arrive interleaved, not clustered)
            df = (
                df.select("url", "warc_ts", "html", "lang")
                .unionByName(real_df)
                .repartition(64, F.xxhash64("url"))
            )
        df.write.mode("overwrite").parquet(str(path))
        spark.stop()
    return str(path)


def run_at(cpus: int, corpus: str, mode: str = "map") -> float:
    out = subprocess.run(
        [
            sys.executable, "-c", WORKER.replace("@@REPO@@", str(REPO)),
            str(cpus), corpus, mode,
        ],
        capture_output=True, text=True, timeout=2400,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["wall"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=720_000)
    ap.add_argument("--n", type=int, default=4, help="N; 4N runs too")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument(
        "--real-frac", type=float, default=0.0,
        help="fraction of docs replicated from the REAL reference "
        "fixtures (adds a skew-repartition A/B)",
    )
    args = ap.parse_args()

    corpus = materialize(args.n_docs, args.real_frac)
    modes = ["map", "skew"] if args.real_frac else ["map"]
    t0 = time.monotonic()
    walls: dict[tuple[str, int], list[float]] = {
        (m, c): [] for m in modes for c in (args.n, args.n * 4)
    }
    for _ in range(args.rounds):
        # interleaved across levels AND modes, see module docstring
        for mode in modes:
            for cpus in (args.n, args.n * 4):
                walls[(mode, cpus)].append(run_at(cpus, corpus, mode))

    result: dict = {
        "metric": "extraction scaling efficiency N->4N "
        f"(local[{args.n}] vs local[{args.n * 4}], interleaved)",
        "n_docs": args.n_docs,
        "real_frac": args.real_frac,
        "experiment_sec": None,
    }
    for mode in modes:
        m_lo = statistics.median(walls[(mode, args.n)])
        m_hi = statistics.median(walls[(mode, args.n * 4)])
        rate_lo, rate_hi = args.n_docs / m_lo, args.n_docs / m_hi
        key = "" if mode == "map" else "_skew"
        result[f"walls_n{key}"] = walls[(mode, args.n)]
        result[f"walls_4n{key}"] = walls[(mode, args.n * 4)]
        result[f"docs_per_sec_n{key}"] = round(rate_lo, 1)
        result[f"docs_per_sec_4n{key}"] = round(rate_hi, 1)
        result[f"efficiency{key}"] = round(rate_hi / (4 * rate_lo), 3)
    result["experiment_sec"] = round(time.monotonic() - t0, 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
