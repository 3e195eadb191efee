"""SparkSession factory with scale-appropriate defaults, and ``pin``, the
one way this package materializes a frame.

Local mode stands in for the multi-executor cluster the pipeline targets
(BASELINE.json: N vs 4N executors); every knob here is the one you would
set identically in ``spark-submit --conf`` on a real cluster.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "doctor_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE on (runtime re-plan + skew-join splitting).
    - Arrow enabled, with a bounded records-per-batch so a batch of fat
      document payloads cannot blow Python-worker memory (the analog of the
      reference's LZW-rasterization memory bound, tasks.py:100-106).
    - UTC session TZ so DuckDB oracle comparisons are stable.
    """
    # Respect a master chosen by the LAUNCHER: under spark-submit the
    # `--master` flag lands in SparkConf as spark.master, and an explicit
    # builder.master() would silently override it (round-4 finding: every
    # "local[4]" scaling leg actually ran local[32] this way — the
    # measurement bug class this block exists to prevent).  An explicit
    # `cores=` argument or SPARK_GRAFT_CPUS/SPARK_GRAFT_MASTER env still
    # wins, for tests and the in-process bench.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ  # pre-launched JVM
    n = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if submitted:
        # Under a submitted JVM, ONLY an explicit SPARK_GRAFT_MASTER may
        # override the launcher's --master.  cores= / SPARK_GRAFT_CPUS are
        # sizing hints (shuffle partitions, parallelism), NOT a master
        # request: `spark-submit --master yarn` + SPARK_GRAFT_CPUS=16 must
        # run on yarn with 16-wide confs, not silently on local[16].
        master = os.environ.get("SPARK_GRAFT_MASTER")
    else:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]")
    builder = (
        (SparkSession.builder.master(master) if master is not None
         else SparkSession.builder)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # a reliable pin's files go once its frame is garbage-collected;
        # without a checkpoint dir (local mode) there is nothing to clean
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and cut its lineage: the one pin for a frame
    that several branches or the next iteration re-read.

    Without a checkpoint directory (local mode, the tests, perfbench) it
    is ``localCheckpoint``: the blocks stay on the executors that computed
    them and die with them, so an action after a lost executor fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.  A cluster that sets
    ``spark.checkpoint.dir`` gets a reliable ``checkpoint`` into it, which
    survives the loss, and its files are deleted once the pinned frame
    is garbage-collected.  Either way one eager action writes the pin (an
    ``observe()`` on ``df`` fills from it) and ``df``'s partitioning
    carries over to the plans that read it."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)
