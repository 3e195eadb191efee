"""The trace reader, spans and /proc sampler, on small synthetic inputs.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys
import time

import tracing


def _node(name, simple, ids, children=(), metric_names=None):
    names = metric_names or ["number of output rows"] * len(ids)
    return {"nodeName": name, "simpleString": simple, "children": list(children),
            "metrics": [{"name": n, "accumulatorId": i} for n, i in zip(names, ids)]}


def _py_node(udf, out, ids):
    return _node("ArrowEvalPython", f"ArrowEvalPython [{udf}], [{out}], 200", ids,
                 metric_names=["number of output rows", tracing._PY_SENT])


def test_spans_nest(tmp_path):
    spans = tracing.Spans()
    with spans.span("outer") as outer:
        with spans.span("inner") as inner:
            time.sleep(0.02)
    assert inner["parent"] == 0 and outer["parent"] is None
    assert 0.02 <= spans.durations("inner")[0] <= spans.durations("outer")[0]
    spans.dump(tmp_path / "spans.json")
    assert [r["name"] for r in json.loads((tmp_path / "spans.json").read_text())] == \
        ["outer", "inner"]


def test_dup_python_udfs_counts_identical_calls_once_each():
    scan = _node("Scan", "Scan parquet", [1])
    a = _py_node("sig(text#1)#5L", "pythonUDF0#31L", [10, 11])
    b = _py_node("sig(text#1)#5L", "pythonUDF0#32L", [20, 21])
    other = _py_node("cos(va#2, vb#3)#9", "pythonUDF0#40", [30, 31])
    a["children"], b["children"] = [scan], [scan]
    plan = _node("SortMergeJoin", "SortMergeJoin", [2], [a, b, other])
    assert tracing.dup_python_udfs(plan) == 1


def test_dup_python_udfs_ignores_a_reused_subtree():
    # a reused exchange repeats its subtree in the plan info with the same
    # metric ids: one evaluation, not two
    a = _py_node("assign(embedding#7)#9", "pythonUDF0#41", [10, 11])
    plan = _node("Union", "Union", [2], [a, json.loads(json.dumps(a))])
    assert tracing.dup_python_udfs(plan) == 0


def _events(tmp_path):
    extract = _node("MapInPandas", "MapInPandas extract(url), [url, extracted_by_ocr]",
                    [100, 101, 102, 103],
                    [_node("Exchange", "Exchange RoundRobinPartitioning(12)", [200],
                           [_node("Scan", "Scan parquet", [300])],
                           metric_names=["shuffle bytes written"])],
                    metric_names=["number of output rows", tracing._PY_SENT,
                                  tracing._PY_RECV, tracing._PY_TIME])
    task = lambda stage, run, cpu: {  # noqa: E731
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": cpu,
                         "JVM GC Time": 5, "Peak Execution Memory": 64,
                         "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "unit:0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "verify"}},
        {"Event": tracing._SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "jobGroupId": "unit:0", "sparkPlanInfo": _node("Scan", "Scan parquet", [9])},
        {"Event": tracing._SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 0, "sparkPlanInfo": extract},
        task(0, 100, 50_000_000), task(1, 300, 100_000_000), task(1, 100, 100_000_000),
        task(2, 999, 1),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Accumulables": [
            {"ID": 200, "Value": "4096"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Accumulables": [
            {"ID": 100, "Value": "1000"}, {"ID": 101, "Value": "5000"},
            {"ID": 102, "Value": "800"}, {"ID": 103, "Value": "2500"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Accumulables": []}},
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return tracing.EventLog(tracing.read_events(tmp_path))


def test_event_log_attributes_work_to_job_groups(tmp_path):
    log = _events(tmp_path)
    t = log.spark_totals(["unit:"])
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 2, 3)
    assert t["executor_run_s"] == 0.5 and t["executor_cpu_s"] == 0.25
    assert t["shuffle_write_bytes"] == 21 and t["peak_exec_memory_bytes"] == 64
    assert log.spark_totals(["verify"])["tasks"] == 1


def test_event_log_reads_the_final_plan_of_the_extraction_node(tmp_path):
    log = _events(tmp_path)
    b = log.python_boundary(["unit:"], extract_only=True)
    assert b == {"nodes": 1, "rows": 1000, "bytes_to_python": 5000,
                 "bytes_from_python": 800, "python_s": 2.5}
    stages, exchanges, shuffle = log.extraction_stages(["unit:"])
    assert stages == [1] and exchanges == [1] and shuffle == 4096
    assert tracing.skew(log.task_run_ms(stages)) == 1.5
    assert log.plan_counts(["unit:"]) == {"python_nodes": 1, "dup_python_udfs": 0}


def test_proc_sampler_sees_child_cpu_and_rss():
    cpu0 = tracing.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt=time.time()\nwhile time.time()-t<0.3: pass"])
    try:
        assert child.pid in tracing.tree_pids(os.getpid())
        with tracing.PeakRss(os.getpid(), interval=0.01) as rss:
            child.wait(timeout=30)
    finally:
        child.kill()
        child.wait(timeout=30)
    assert rss.peak > 0 and rss.peak >= tracing.tree_rss_bytes(os.getpid()) // 4
    # the reaped child's CPU is counted through its parent
    assert tracing.tree_cpu_s(os.getpid()) - cpu0 >= 0.2
