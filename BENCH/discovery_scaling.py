"""N->4N throughput pair for the ninth-wave discovery/metadata ingest
(map-only page_metadata pass — the RCDATA-aware head parse).

Same protocol as boilerplate_scaling.py: the sf1 documents table is
replicated in-plan with shifted ids and written as many files, so the
timed legs draw parallelism from input splits like a real large table;
legs run in separate JVMs at local[N] / local[4N], interleaved to
spread box drift.

Usage:
    python BENCH/discovery_scaling.py [--n 8] [--reps 16] [--rounds 2]
        [--sf-dir /tmp/doctor_spark_sf1]

Prints one JSON line with walls and N->4N efficiency.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

_MATERIALIZE = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from doctor_spark.session import get_spark

spark = get_spark("disc-corpus")
docs = spark.read.parquet({sf_dir!r} + "/documents.parquet")
big = (docs.select("doc_id")
       .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit({reps} - 1))))
       .select((F.col("doc_id") * {reps} + F.col("r")).alias("doc_id"))
       .repartition(128))
big.write.mode("overwrite").parquet({corpus!r})
print(spark.read.parquet({corpus!r}).count())
"""

_LEG = r"""
import json, sys, time
import os
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = str({cores})
from pyspark.sql import functions as F
from doctor_spark.session import get_spark
from doctor_spark.operators.metadata import page_metadata

# the head parse is ~10x cheaper per row than document extraction, so
# Arrow IPC + per-batch overhead is a visible fraction — fat batches
# and byte-balanced splits keep both legs compute-bound (same tuning as
# the extraction instrument, larger batch because rows are smaller)
spark = get_spark("disc-scale", extra_conf={{
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
}})


def run_once():
    # a FRESH DataFrame per run: re-collecting the same object reuses
    # AQE's already-materialized stages and measures nothing (found the
    # hard way — 0.5 s "walls" for an 16 s job)
    big = spark.read.parquet({corpus!r})
    pages = big.select(
        "doc_id", F.encode(F.expr({synth!r}), "utf-8").alias("html"))
    out = page_metadata(pages).agg(
        F.count("title"), F.count("charset"), F.count("refresh_url"))
    return out.collect()


run_once()  # warm: JIT/codegen + file listing
t = time.time()
run_once()
wall = round(time.time() - t, 2)
n = spark.read.parquet({corpus!r}).count()
print(json.dumps({{"wall": wall, "rows": n}}))
"""


def _repo() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def materialize(args) -> str:
    corpus = f"/tmp/disc_scale_corpus_x{args.reps}"
    marker = os.path.join(corpus, "_SUCCESS")
    if not os.path.exists(marker):
        code = _MATERIALIZE.format(repo=_repo(), reps=args.reps,
                                   sf_dir=args.sf_dir, corpus=corpus)
        subprocess.run([sys.executable, "-c", code], check=True,
                       capture_output=True, text=True)
    return corpus


def run_leg(cores: int, corpus: str, synth: str) -> dict:
    code = _LEG.format(repo=_repo(), cores=cores, corpus=corpus, synth=synth)
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--reps", type=int, default=96)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--sf-dir", default="/tmp/doctor_spark_sf1")
    args = ap.parse_args()
    sys.path.insert(0, _repo())
    from doctor_spark.queries.web import _META_HTML_SYNTH_SQL

    corpus = materialize(args)
    walls_n, walls_4n, rows = [], [], 0
    for _ in range(args.rounds):  # interleave to spread box drift
        r = run_leg(args.n, corpus, _META_HTML_SYNTH_SQL)
        walls_n.append(r["wall"]); rows = r["rows"]
        r = run_leg(4 * args.n, corpus, _META_HTML_SYNTH_SQL)
        walls_4n.append(r["wall"])
    tp_n = rows / (sum(walls_n) / len(walls_n))
    tp_4n = rows / (sum(walls_4n) / len(walls_4n))
    print(json.dumps({
        "metric": "page_metadata N->4N scaling (map-only head parse)",
        "n_docs": rows, "cores_n": args.n, "cores_4n": 4 * args.n,
        "walls_n": walls_n, "walls_4n": walls_4n,
        "docs_per_sec_n": round(tp_n, 1), "docs_per_sec_4n": round(tp_4n, 1),
        "efficiency": round(tp_4n / tp_n / 4, 3),
    }))


if __name__ == "__main__":
    main()
