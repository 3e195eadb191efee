"""``doctor_spark.queries``: the ``@query`` registry, and
``_spread_scan``'s two regimes — a scan with fewer splits than
2 × defaultParallelism is round-robin spread to that width; a scan that
already has that many splits (a cluster-scale table) is left alone.  The
split count is read once per (application, path)."""

import re
import sys
from pathlib import Path

import pytest

from doctor_spark import queries
from doctor_spark.queries.dedup import q_dedup_exact

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry  # noqa: E402


def test_query_registers_the_function_unchanged():
    q = entry.queries()["dedup_exact"]
    assert q is q_dedup_exact
    assert entry.oracle_sql()["dedup_exact"] == queries._REGISTRY["dedup_exact"].oracle


def test_query_rejects_a_second_registration():
    entry.queries()  # every family module registered

    def q_dedup_exact(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="registered twice"):
        queries.query(oracle="SELECT 1")(q_dedup_exact)
    assert entry.queries()["dedup_exact"] is not q_dedup_exact


def test_registry_order_must_name_every_query_once():
    with pytest.raises(ValueError, match="differ"):
        queries.registered(entry.ORDER[:-1])
    with pytest.raises(ValueError, match="differ"):
        queries.registered(entry.ORDER + entry.ORDER[:1])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> list[str]:
    return re.findall(r"Exchange (\w+\(\d*\))", plan)


def test_single_file_is_spread_round_robin(spark, tmp_path):
    path = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(path)
    target = 2 * spark.sparkContext.defaultParallelism

    df = queries._spread_scan(spark, path)

    assert _exchanges(_plan(df)) == [f"RoundRobinPartitioning({target})"]
    assert df.rdd.getNumPartitions() == target
    assert sorted(r.id for r in df.collect()) == list(range(1000))


def test_wide_scan_plans_no_exchange(spark, tmp_path):
    path = str(tmp_path / "wide")
    target = 2 * spark.sparkContext.defaultParallelism
    spark.range(0, 1000, 1, target).write.parquet(path)
    assert len(list((tmp_path / "wide").glob("*.parquet"))) >= target
    # one split per file, as large files give on a cluster (small files
    # are otherwise packed into defaultParallelism splits)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        df = queries._spread_scan(spark, path, ["id"])
        assert _exchanges(_plan(df)) == []
        assert df.rdd.getNumPartitions() >= target
    finally:
        spark.conf.set(key, old)


def test_split_count_is_memoized_per_application_and_path(spark, tmp_path):
    path = str(tmp_path / "memo")
    spark.range(100).coalesce(1).write.parquet(path)
    key = (spark.sparkContext.applicationId, path)
    assert key not in queries._SCAN_PARTS

    queries._spread_scan(spark, path)
    assert queries._SCAN_PARTS[key] == 1

    # the memo, not a fresh planning of the scan, decides the next call
    queries._SCAN_PARTS[key] = 2 * spark.sparkContext.defaultParallelism
    try:
        assert _exchanges(_plan(queries._spread_scan(spark, path))) == []
    finally:
        del queries._SCAN_PARTS[key]
