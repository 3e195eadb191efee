#!/usr/bin/env bash
# Cluster launch per the north rule: spark-submit --py-files on a
# multi-executor cluster at N and 4N executors.
#
#   ./scripts/submit_extraction.sh <pages_parquet | synth:N> <out_dir> [num_executors]
#
# The corpus is a pages parquet path (a `pages_dataframe` schema) or
# `synth:N` for N generated pages; `doctor_spark.pipeline` reads nothing
# else (turn WARC files into a pages parquet with
# `doctor_spark.sources.warc.read_warc_pages` first).
#
# In this sandbox there is no cluster manager, so the same launcher runs
# against local[N] (set MASTER=local[8] / local[32]); on a real cluster set
# MASTER=yarn or k8s:// and NUM_EXECUTORS to N / 4N for the scaling runs.
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
CORPUS="${1:?pages parquet path or synth:N}"
OUT="${2:?output dir}"
NUM_EXECUTORS="${3:-8}"
MASTER="${MASTER:-local[${NUM_EXECUTORS}]}"

ZIP="$(mktemp -d)/doctor_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" doctor_spark)

# --driver-memory must be set HERE: once spark-submit has started the JVM,
# the session factory's spark.driver.memory conf is ignored (default 1g
# OOMs local-mode runs, where the driver hosts all executor threads)
#
# SPARK_GRAFT_MASTER/CPUS exported so the session factory sizes
# parallelism confs to the requested level — and can never override the
# launcher's master with its own default (the round-4 measurement bug:
# builder.master(local[32]) silently won over --master local[4], so
# every "N" scaling leg ran at 32 threads)
export SPARK_GRAFT_MASTER="$MASTER"
export SPARK_GRAFT_CPUS="$NUM_EXECUTORS"
exec spark-submit \
  --master "$MASTER" \
  --name doctor_spark-extraction \
  --driver-memory "${DRIVER_MEM:-32g}" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.execution.arrow.maxRecordsPerBatch=2048 \
  --conf spark.sql.files.maxPartitionBytes=134217728 \
  --conf spark.python.worker.reuse=true \
  ${NUM_EXECUTORS:+--conf spark.executor.instances=$NUM_EXECUTORS} \
  "$REPO/scripts/run_extraction.py" --corpus "$CORPUS" --out "$OUT" --verify
