"""N->4N throughput pair for the perceptual media dedup stage (codec-
heavy map + one keyed exchange) — the multimodal analog of
boilerplate_scaling.py.

Materializes a corpus of REAL PNG payloads (the driver synthesis: 50
patterns, per-doc noise) as many parquet files so the timed legs draw
parallelism from input splits, then times
``image_dup_clusters(...).count()`` — PNG decode + dHash Arrow stage,
map-side partial agg, one 50-group exchange — at local[N] and
local[4N] in separate JVMs, interleaved.

Usage:
    python BENCH/mediadup_scaling.py [--n 4] [--n-docs 200000]
        [--rounds 2]

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
from doctor_spark.queries.media import _synth_png_udf

spark = get_spark("md-corpus")
ids = spark.range({n_docs}).select(F.col("id").alias("doc_id"))
pngs = ids.select(
    "doc_id", _synth_png_udf()(F.col("doc_id")).alias("payload"))
pngs.repartition(128).write.mode("overwrite").parquet({corpus!r})
print(spark.read.parquet({corpus!r}).count())
"""

_LEG = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = str({cores})
from doctor_spark.session import get_spark
from doctor_spark.operators.imagedup import image_dup_clusters

spark = get_spark("md-scale")
imgs = spark.read.parquet({corpus!r})
n_cl = image_dup_clusters(imgs, id_col="doc_id").count()  # warm
t = time.time()
n_cl = image_dup_clusters(imgs, id_col="doc_id").count()
print(json.dumps({{"wall": round(time.time() - t, 2), "clusters": n_cl}}))
"""


def _repo() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=4)
    ap.add_argument("--n-docs", type=int, default=200_000)
    ap.add_argument("--rounds", type=int, default=2)
    args = ap.parse_args()

    corpus = f"/tmp/mediadup_scale_corpus_n{args.n_docs}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        code = _MATERIALIZE.format(
            repo=_repo(), n_docs=args.n_docs, corpus=corpus
        )
        subprocess.run([sys.executable, "-c", code], check=True,
                       capture_output=True, text=True)

    walls_n, walls_4n, clusters = [], [], 0
    for _ in range(args.rounds):  # interleave to spread box drift
        code = _LEG.format(repo=_repo(), cores=args.n, corpus=corpus)
        r = json.loads(subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            check=True).stdout.strip().splitlines()[-1])
        walls_n.append(r["wall"]); clusters = r["clusters"]
        code = _LEG.format(repo=_repo(), cores=4 * args.n, corpus=corpus)
        r = json.loads(subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            check=True).stdout.strip().splitlines()[-1])
        walls_4n.append(r["wall"])
    tp_n = args.n_docs / (sum(walls_n) / len(walls_n))
    tp_4n = args.n_docs / (sum(walls_4n) / len(walls_4n))
    print(json.dumps({
        "metric": "image_dup_clusters N->4N scaling (codec map + 1 exchange)",
        "n_docs": args.n_docs, "clusters": clusters,
        "cores_n": args.n, "cores_4n": 4 * args.n,
        "walls_n": walls_n, "walls_4n": walls_4n,
        "docs_per_sec_n": round(tp_n, 1), "docs_per_sec_4n": round(tp_4n, 1),
        "efficiency": round(tp_4n / tp_n / 4, 3),
    }))


if __name__ == "__main__":
    main()
