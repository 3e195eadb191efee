"""``session.pin``, the one materialization call in the package: with a
checkpoint directory set, a pin survives the loss of the executor that
computed it.  (``tests/test_arrow_boundary.py`` checks that no other
site checkpoints.)

The kill test runs this file as a script in a fresh process, because the
suite's ``spark`` fixture already owns this process's SparkContext.  The
script starts ``local-cluster[2,1,1024]`` (two executors of one core)
with ``spark.checkpoint.dir`` under the test's tmp path, replaces a
module's ``pin`` with one that kills an executor right after a chosen
call, and checks that the result equals the same run without the kill.
The killed executor is the one holding the blocks of a bare
``localCheckpoint`` of the same frame; that bare pin must then fail with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, which shows the kill hit a block
holder.  ``killExecutor`` also lowers the requested executor count, so
the executor is not replaced.  The pagerank process also checks that an
``observe()`` on a frame fills from the reliable pin's job, which
``duplicate_components`` relies on.
"""

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize("scenario", ["pagerank", "pipeline"])
def test_pin_survives_a_lost_executor(scenario, tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(
        [sys.executable, __file__, scenario, str(tmp_path)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert proc.returncode == 0 and lines, proc.stdout[-3000:] + proc.stderr[-3000:]
    out = json.loads(lines[-1])
    if "skip" in out:
        pytest.skip(out["skip"])
    assert all(out.values()), out


# --------------------------------------------------------------------------
# the subprocess side
# --------------------------------------------------------------------------


def _executors(sc) -> set[str]:
    """Live executor ids (the driver excluded)."""
    ids = sc._jsc.sc().getExecutorIds()
    return {ids.apply(i) for i in range(ids.size())}


def _block_holders(spark, bare) -> set[str]:
    """Executors holding the blocks of the local checkpoint ``bare``."""
    jvm = spark.sparkContext._jvm
    rdd = bare._jdf.logicalPlan().rdd()
    master = jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    holders = set()
    for p in range(rdd.getNumPartitions()):
        locs = master.getLocations(jvm.org.apache.spark.storage.RDDBlockId(rdd.id(), p))
        holders |= {locs.apply(i).executorId() for i in range(locs.size())}
    return holders


def _killing_pin(spark, pin, at: int, report: dict):
    """``pin`` that, right after its ``at``-th call, kills the executor
    holding a bare local checkpoint of the same frame."""
    sc = spark.sparkContext
    calls = [0]

    def patched(df):
        out = pin(df)
        calls[0] += 1
        if calls[0] == at:
            bare = df.localCheckpoint(eager=True)
            victim = min(_block_holders(spark, bare))
            sc._jsc.sc().killExecutor(victim)
            deadline = time.time() + 60
            while victim in _executors(sc) and time.time() < deadline:
                time.sleep(0.2)
            report["killed"] = victim not in _executors(sc)
            try:
                bare.count()
                report["bare_pin_lost"] = False
            except Exception as exc:  # noqa: BLE001
                report["bare_pin_lost"] = "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(exc)
        return out

    return patched


def _pagerank(spark, report):
    from pyspark.sql import functions as F

    from doctor_spark.operators import graph

    ids = spark.range(300).select(F.col("id").alias("src"))
    edges = ids.select("src", ((F.col("src") * 37 + 11) % 300).alias("dst")).unionByName(
        ids.select("src", ((F.col("src") * 101 + 7) % 300).alias("dst"))
    )
    want = graph.pagerank(edges).collect()
    # calls 1-2 pin the edges and the nodes, call 3 the first iteration's ranks
    graph.pin = _killing_pin(spark, graph.pin, 3, report)
    return sorted(graph.pagerank(edges).collect()) == sorted(want)


def _components(spark):
    """duplicate_components reads each round's change count through an
    Observation filled by the pin's job; the reliable pin must fill it."""
    from doctor_spark.operators.dedup import duplicate_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (6, 7)], "id_a long, id_b long")
    stats = {}
    got = sorted(map(tuple, duplicate_components(pairs, stats=stats).collect()))
    return got == [(1, 1), (2, 1), (3, 1), (4, 1), (6, 6), (7, 6)] and stats["iterations"] > 1


def _pipeline(spark, report, tmp):
    from pyspark.sql import functions as F

    from doctor_spark import pipeline
    from doctor_spark.corpus import pages_dataframe

    pages = pages_dataframe(spark, 120, partitions=2).cache()
    half = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)

    def run(out, kill):
        pipeline.run_extraction_pipeline(spark, half, out, run_id="h")
        if kill:
            # the resumed run's first pin is its resume set (resume_done_urls)
            pipeline.pin = _killing_pin(spark, pipeline.pin, 1, report)
        s = pipeline.run_extraction_pipeline(spark, pages, out, run_id="r")
        rows = spark.read.parquet(s["results_path"]).select("url", "content", "err", "run_id")
        return s["total_rows"], s["resumed_skip"], sorted(map(tuple, rows.collect()), key=repr)

    return run(str(tmp / "nokill"), False) == run(str(tmp / "kill"), True)


def _main(scenario: str, tmp: Path) -> dict:
    sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_MASTER"] = "local-cluster[2,1,1024]"
    from doctor_spark.session import get_spark

    try:
        spark = get_spark(
            "pin-kill",
            cores=2,
            shuffle_partitions=4,
            extra_conf={
                "spark.checkpoint.dir": str(tmp / "checkpoints"),
                "spark.executorEnv.PYTHONPATH": os.pathsep.join(
                    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
                ),
            },
        )
    except Exception as exc:  # noqa: BLE001
        return {"skip": f"local-cluster did not start: {type(exc).__name__}: {exc}"[:500]}
    sc = spark.sparkContext
    # the cluster's workers keep executor logs under $SPARK_HOME/work
    work = Path(sc._jvm.java.lang.System.getenv("SPARK_HOME"), "work", sc.applicationId)
    try:
        deadline = time.time() + 90
        while len(_executors(sc)) < 2 and time.time() < deadline:
            time.sleep(0.2)
        if len(_executors(sc)) < 2:
            return {"skip": "local-cluster[2,1,1024] registered fewer than 2 executors in 90 s"}
        report = {"killed": False, "bare_pin_lost": False}
        if scenario == "pagerank":
            report["observed"] = _components(spark)
            report["same"] = _pagerank(spark, report)
        else:
            report["same"] = _pipeline(spark, report, tmp)
        return report
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    print(json.dumps(_main(sys.argv[1], Path(sys.argv[2]))), flush=True)
