"""N->4N throughput pair for the jusText corpus pass (map-only).

Replicates the sf1 documents table in-plan (explode(sequence) with a
doc_id offset — deterministic, no disk) to push the legs well above the
fixed JVM/session overhead, then times `justext_doc_summary(...).count()`
at local[N] and local[4N] in separate JVMs, interleaved.

Usage:
    python BENCH/boilerplate_scaling.py [--n 8] [--reps 16] [--rounds 2]
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

spark = get_spark("bp-corpus")
docs = spark.read.parquet({sf_dir!r} + "/documents.parquet")
# replicate with shifted ids and write as MANY files so the timed legs
# get their parallelism from input splits, exactly like a real
# large-scale table — no in-plan exchange pollutes the measurement
big = (docs.select("doc_id", "text")
       .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit({reps} - 1))))
       .select((F.col("doc_id") * {reps} + F.col("r")).alias("doc_id"),
               "text")
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
from doctor_spark.operators.boilerplate import justext_doc_summary

spark = get_spark("bp-scale")
big = spark.read.parquet({corpus!r})
esc = F.expr("replace(replace(replace(coalesce(text, ''),"
             " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")
pages = big.select("doc_id", F.concat(
    F.lit({pre!r}), esc, F.lit({post!r})).alias("html"))
n = justext_doc_summary(pages, key_col="doc_id",
                        html_col="html").count()  # warm
t = time.time()
n = justext_doc_summary(pages, key_col="doc_id", html_col="html").count()
print(json.dumps({{"wall": round(time.time() - t, 2), "rows": n}}))
"""


def _repo() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def materialize(args) -> str:
    corpus = f"/tmp/bp_scale_corpus_x{args.reps}"
    marker = os.path.join(corpus, "_SUCCESS")
    if not os.path.exists(marker):
        code = _MATERIALIZE.format(repo=_repo(), reps=args.reps,
                                   sf_dir=args.sf_dir, corpus=corpus)
        subprocess.run([sys.executable, "-c", code], check=True,
                       capture_output=True, text=True)
    return corpus


def run_leg(cores: int, corpus: str, args) -> dict:
    from doctor_spark.queries.quality import _BP_POST, _BP_PRE

    code = _LEG.format(repo=_repo(), cores=cores, corpus=corpus,
                       pre=_BP_PRE, post=_BP_POST)
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--reps", type=int, default=16)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--sf-dir", default="/tmp/doctor_spark_sf1")
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))

    corpus = materialize(args)
    walls_n, walls_4n, rows = [], [], 0
    for _ in range(args.rounds):  # interleave to spread box drift
        r = run_leg(args.n, corpus, args)
        walls_n.append(r["wall"]); rows = r["rows"]
        r = run_leg(4 * args.n, corpus, args)
        walls_4n.append(r["wall"])
    tp_n = rows / (sum(walls_n) / len(walls_n))
    tp_4n = rows / (sum(walls_4n) / len(walls_4n))
    print(json.dumps({
        "metric": "boilerplate_corpus N->4N scaling (map-only jusText pass)",
        "n_docs": rows, "cores_n": args.n, "cores_4n": 4 * args.n,
        "walls_n": walls_n, "walls_4n": walls_4n,
        "docs_per_sec_n": round(tp_n, 1), "docs_per_sec_4n": round(tp_4n, 1),
        "efficiency": round(tp_4n / tp_n / 4, 3),
    }))


if __name__ == "__main__":
    main()
