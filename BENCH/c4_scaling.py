"""N->4N throughput pair for the C4 span dedup (shuffle-bearing).

Unlike the map-only rungs (boilerplate/extract), this operator pays a
real exchange chain — span-hash window, doc_id aggregation, join back —
so its pair evidences that the SHUFFLE path scales, not just the map
path.  The corpus is the multi-line page synthesis from the driver
query (`_c4_pages`), replicated with shifted doc_ids and materialized
to 128 parquet files so both legs draw parallelism from input splits.
Replication makes every synthesized page's spans corpus-wide duplicates
(reps occurrences per key), which loads the window exchange exactly the
way shared boilerplate blocks do on a real crawl.

The timed action forces the full pipeline including the cleaned-text
rebuild (sum(length(cleaned_text))), so column pruning cannot skip the
join-back stage.

Usage:
    python BENCH/c4_scaling.py [--n 4] [--reps 16] [--rounds 2]
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
from doctor_spark.queries.quality import _c4_pages

spark = get_spark("c4-corpus")
docs = spark.read.parquet({sf_dir!r} + "/documents.parquet")
big = (docs.select("doc_id", "text")
       .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit({reps} - 1))))
       .select((F.col("doc_id") * {reps} + F.col("r")).alias("doc_id"),
               "text")
       .repartition(128))
pages = _c4_pages(big)
pages.write.mode("overwrite").parquet({corpus!r})
print(spark.read.parquet({corpus!r}).count())
"""

_LEG = r"""
import json, sys, time
import os
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = str({cores})
from pyspark.sql import functions as F
from doctor_spark.session import get_spark
from doctor_spark.operators.c4 import c4_span_dedup

spark = get_spark("c4-scale")
pages = spark.read.parquet({corpus!r})

def job():
    out = c4_span_dedup(pages)
    return out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_removed").alias("removed"),
        F.sum(F.length("cleaned_text")).alias("chars"),
    ).collect()[0]

r = job()  # warm
t = time.time()
r = job()
print(json.dumps({{"wall": round(time.time() - t, 2),
                   "rows": r["docs"], "removed": r["removed"]}}))
"""


def _repo() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def materialize(args) -> str:
    corpus = f"/tmp/c4_scale_corpus_x{args.reps}"
    marker = os.path.join(corpus, "_SUCCESS")
    if not os.path.exists(marker):
        code = _MATERIALIZE.format(repo=_repo(), reps=args.reps,
                                   sf_dir=args.sf_dir, corpus=corpus)
        subprocess.run([sys.executable, "-c", code], check=True,
                       capture_output=True, text=True)
    return corpus


def run_leg(cores: int, corpus: str) -> dict:
    code = _LEG.format(repo=_repo(), cores=cores, corpus=corpus)
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=4)
    ap.add_argument("--reps", type=int, default=16)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--sf-dir", default="/tmp/doctor_spark_sf1")
    args = ap.parse_args()
    sys.path.insert(0, _repo())

    corpus = materialize(args)
    walls_n, walls_4n, rows, removed = [], [], 0, 0
    for _ in range(args.rounds):  # interleave to spread box drift
        r = run_leg(args.n, corpus)
        walls_n.append(r["wall"]); rows, removed = r["rows"], r["removed"]
        r = run_leg(4 * args.n, corpus)
        walls_4n.append(r["wall"])
    tp_n = rows / (sum(walls_n) / len(walls_n))
    tp_4n = rows / (sum(walls_4n) / len(walls_4n))
    print(json.dumps({
        "metric": "c4_span_dedup N->4N scaling (shuffle-bearing)",
        "n_docs": rows, "removed_lines": removed,
        "cores_n": args.n, "cores_4n": 4 * args.n,
        "walls_n": walls_n, "walls_4n": walls_4n,
        "docs_per_sec_n": round(tp_n, 1), "docs_per_sec_4n": round(tp_4n, 1),
        "efficiency": round(tp_4n / tp_n / 4, 3),
    }))


if __name__ == "__main__":
    main()
