"""Extraction balance when per-document cost clusters on one crawl day.

Builds a ``generate_page`` corpus in which every PDF and DOCX (about half
the extraction cost) is crawled on the same day, then runs the
pre-extraction shuffle plus ``extract_operator`` into a noop sink under
two partitionings, interleaved:

- ``hash``:  ``classify.skew_repartition`` (url-hash salt);
- ``range``: a range repartition on (crawl day, salt), which cuts
  equal-ROW slices of a day-ordered key.

Reports per mode the median wall time and the extraction stage's task
skew (max ÷ median executor run time, from the Spark REST API on
localhost) and how many tasks hold the costly docs.

Run:  python BENCH/day_skew.py [--n-docs 16000] [--cores 4] [--rounds 3]
Writes one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _stage_run_ms(spark, job_group: str) -> list[int]:
    """Executor run time (ms) of every task of the job group's last stage."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    tracker = sc.statusTracker()
    stages = sorted(
        s for j in tracker.getJobIdsForGroup(job_group)
        for s in tracker.getJobInfo(j).stageIds
    )
    with urllib.request.urlopen(f"{base}/stages/{stages[-1]}/0/taskList?length=10000") as r:
        return [t["taskMetrics"]["executorRunTime"] for t in json.load(r)]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=16000)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from pyspark.sql import functions as F

    from doctor_spark.corpus import pages_dataframe
    from doctor_spark.operators.classify import skew_repartition, with_classification
    from doctor_spark.operators.extract import extract_operator
    from doctor_spark.session import get_spark

    spark = get_spark("day-skew", cores=args.cores,
                      extra_conf={"spark.ui.enabled": "true"})
    costly = F.col("url").rlike(r"\.(pdf|docx)$")
    T = max(spark.sparkContext.defaultParallelism * 3, 8)
    with tempfile.TemporaryDirectory() as tmp:
        path = str(Path(tmp) / "pages")
        pages_dataframe(spark, args.n_docs).withColumn(
            "warc_ts",
            F.when(costly, F.lit("2024-01-01 00:00:00").cast("timestamp"))
            .otherwise(F.col("warc_ts")),
        ).coalesce(2).write.parquet(path)
        pages = with_classification(spark.read.parquet(path))
        modes = {
            "hash": lambda: skew_repartition(pages, T),
            "range": lambda: pages.repartitionByRange(
                T, F.date_format("warc_ts", "yyyy-MM-dd"), F.col("salt")),
        }
        walls = {m: [] for m in modes}
        skews = {m: [] for m in modes}
        costly_tasks = {}
        for r in range(args.rounds + 1):  # round 0 warms up
            for mode, staged in modes.items():
                group = f"{mode}-{r}"
                spark.sparkContext.setJobGroup(group, group)
                t0 = time.monotonic()
                extract_operator(staged()).write.format("noop").mode("overwrite").save()
                wall = time.monotonic() - t0
                if r:
                    ms = _stage_run_ms(spark, group)
                    walls[mode].append(wall)
                    skews[mode].append(max(ms) / statistics.median(ms))
        for mode, staged in modes.items():
            # the partition id is taken before the filter, which Spark
            # would otherwise push below the repartition
            costly_tasks[mode] = staged().withColumn(
                "p", F.spark_partition_id()).where(costly).select("p").distinct().count()
    spark.stop()
    print(json.dumps({
        "n_docs": args.n_docs, "cores": args.cores, "tasks": T,
        **{f"{m}.wall_s": round(statistics.median(w), 3) for m, w in walls.items()},
        **{f"{m}.task_skew": round(statistics.median(s), 2) for m, s in skews.items()},
        **{f"{m}.tasks_with_costly_docs": n for m, n in costly_tasks.items()},
    }))


if __name__ == "__main__":
    main()
