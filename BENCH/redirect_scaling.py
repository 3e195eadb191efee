"""N->4N throughput pair for redirect-chain resolution — the tenth-wave
pointer-doubling operator (operators/graph.py:resolve_redirects).

This is deliberately a DIFFERENT scaling shape from the map-only
instruments (scaling.py, discovery_scaling.py, boilerplate_scaling.py):
the job is 1 keyed aggregate + 4 keyed self-joins + 1 terminal join on
a row-volume edge table, with a localCheckpoint materialization per
round — shuffle- and checkpoint-bound, the worst case for scaling
efficiency because every round pays an exchange whose fixed costs do
not shrink with cores.  A ≥0.8 here evidences the iterative-join family
(connected components, pagerank, pointer doubling) at the criterion
pair, not just the embarrassingly-parallel map stages.

Protocol matches the sibling instruments: the sf1 doc_id column is
replicated in-plan with shifted ids and written as many parquet files;
legs run in separate JVMs at local[N] / local[4N], interleaved rounds
to spread box drift; every leg builds a FRESH plan (no AQE stage
reuse).

Usage:
    python BENCH/redirect_scaling.py [--n 4] [--reps 384] [--rounds 2]
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

spark = get_spark("redir-corpus")
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
from doctor_spark.operators.graph import resolve_redirects

spark = get_spark("redir-scale")


def run_once():
    # FRESH plan per run — localCheckpoint state from the previous run
    # is unreachable (new DataFrames), so every leg pays the full
    # join+checkpoint ladder
    big = spark.read.parquet({corpus!r})
    edges = big.select(
        F.expr({src!r}).alias("src"), F.expr({dst!r}).alias("dst"))
    r = resolve_redirects(edges, max_hops=16)
    return r.agg(
        F.count("*"), F.sum("n_hops"),
        F.sum(F.col("resolved").cast("long"))).collect()


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
    corpus = f"/tmp/redir_scale_corpus_x{args.reps}"
    marker = os.path.join(corpus, "_SUCCESS")
    if not os.path.exists(marker):
        code = _MATERIALIZE.format(repo=_repo(), reps=args.reps,
                                   sf_dir=args.sf_dir, corpus=corpus)
        subprocess.run([sys.executable, "-c", code], check=True,
                       capture_output=True, text=True)
    return corpus


def run_leg(cores: int, corpus: str, src: str, dst: str) -> dict:
    code = _LEG.format(repo=_repo(), cores=cores, corpus=corpus,
                       src=src, dst=dst)
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=4)
    ap.add_argument("--reps", type=int, default=384)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--sf-dir", default="/tmp/doctor_spark_sf1")
    args = ap.parse_args()
    sys.path.insert(0, _repo())
    from doctor_spark.queries.linkgraph import _redirect_edges_expr

    src, dst = _redirect_edges_expr("div")
    corpus = materialize(args)
    walls_n, walls_4n, rows = [], [], 0
    for _ in range(args.rounds):  # interleave to spread box drift
        r = run_leg(args.n, corpus, src, dst)
        walls_n.append(r["wall"]); rows = r["rows"]
        r = run_leg(4 * args.n, corpus, src, dst)
        walls_4n.append(r["wall"])
    tp_n = rows / (sum(walls_n) / len(walls_n))
    tp_4n = rows / (sum(walls_4n) / len(walls_4n))
    print(json.dumps({
        "metric": "resolve_redirects N->4N scaling (iterative keyed joins)",
        "n_docs": rows, "cores_n": args.n, "cores_4n": 4 * args.n,
        "walls_n": walls_n, "walls_4n": walls_4n,
        "docs_per_sec_n": round(tp_n, 1), "docs_per_sec_4n": round(tp_4n, 1),
        "efficiency": round(tp_4n / tp_n / 4, 3),
    }))


if __name__ == "__main__":
    main()
