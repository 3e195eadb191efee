"""Per-query probe harness for optimization work (guide §1.4).

``bench.py`` is frozen for measurement; this file exists so single queries
can be A/B-timed in isolation with the same session configuration and
methodology (warmup + min-of-N ``collect()``), plus optional noop-sink
timing and plan capture.

Usage:
    python bench_extra.py q1 q2 ...            # time named queries
    python bench_extra.py --reps 3 q1
    python bench_extra.py --noop q1            # noop sink instead of collect
    python bench_extra.py --explain-dir plans/r06 --suffix before q1 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path


def parse_extra_conf(spec: str) -> dict[str, str]:
    """Ad-hoc conf A/B: ``SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2"``.

    Entries split on ``;`` so values may hold commas (JVM option lists).
    An entry without ``=`` or with an empty key is an error."""
    conf = {}
    for kv in filter(None, (e.strip() for e in spec.split(";"))):
        k, sep, v = kv.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF entry {kv!r} is not of the form key=value"
            )
        conf[k.strip()] = v.strip()
    return conf


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="probe")
    ap.add_argument("--explain-only", action="store_true",
                    help="capture plans without executing or timing")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import __spark_entry__ as entry
    from doctor_spark.session import get_spark

    conf = {
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    }
    conf.update(parse_extra_conf(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")))
    spark = get_spark("doctor_spark-bench-extra", cores=cpus, extra_conf=conf)
    # same warmup as bench.py
    for t in ("documents", "embeddings", "events", "lineitem", "orders"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    from pyspark.sql import functions as F

    spark.range(1_000_000).agg(F.sum("id")).collect()

    qs = entry.queries()
    timings = {}
    for name in args.names:
        df = qs[name](spark, sf_dir)
        if args.explain_dir:
            out = Path(args.explain_dir)
            out.mkdir(parents=True, exist_ok=True)
            (out / f"{name}_{args.suffix}.txt").write_text(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )

        # IMPORTANT: rebuild the query per action exactly like bench.py's
        # ``lambda: qs[n](spark, sf_dir).collect()`` — re-running an action
        # on one Dataset object reuses the shuffle map output of its final
        # exchange (all the upstream Python work!) and reports fantasy times
        def action(name=name):
            spark.sparkContext.setJobDescription(name)
            d = qs[name](spark, sf_dir)
            if args.noop:
                d.write.format("noop").mode("overwrite").save()
            else:
                d.collect()
            spark.sparkContext.setJobDescription(None)

        if args.explain_only:
            continue
        action()  # warmup
        best = None
        for _ in range(args.reps):
            t0 = time.monotonic()
            action()
            w = time.monotonic() - t0
            best = w if best is None or w < best else best
        timings[name] = round(best, 3)
        print(f"  {name}: {timings[name]}s", file=sys.stderr)

    print(json.dumps({"queries": timings, "sf_dir": sf_dir, "cpus": cpus,
                      "noop": args.noop}))
    spark.stop()


if __name__ == "__main__":
    main()
