"""Measurement from outside the program: spans around public calls, a /proc
sampler for the process tree, and a reader for Spark's JSON event log.

Nothing here imports pyspark, so the parser and the sampler are testable on
their own (``perfbench/tests``).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- spans --------------------------------------------------------------------


class Spans:
    """In-memory spans (name, start, end, parent); written out once, at the
    end of a run, so recording costs two clock reads and an append."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.records)
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.records.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records
                if r["name"] == name and r["end"] is not None]

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.records))


# -- /proc process tree ------------------------------------------------------------


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants (the Spark driver JVM, the
    Python daemon and its forked workers, for a benchmark worker)."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the tree, including children it has reaped, so
    a Python worker that exited is still counted through its parent."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f:  # utime, stime, cutime, cstime are stat fields 14-17
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of the tree.  A JVM starts helper processes (Hadoop's
    local file system runs ``chmod`` for the files it writes) with vfork:
    until it execs, the child shares the JVM's memory and reports its RSS,
    so such a child would count the JVM twice and is skipped."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f and _exe(pid).endswith("/java") and _exe(pid) == _exe(int(f[1])):
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds while
    active; ``peak`` is the largest sample."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def group_pids(pgid: int) -> list[int]:
    """Live processes of one process group (to make sure a worker left
    nothing running)."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f and int(f[2]) == pgid and f[0] != "Z":
                out.append(int(name))
    return out


# -- Spark event log --------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_TIME = "time to run Python workers"
# "ArrowEvalPython [sig(text#191)#195L], [pythonUDF0#221L], 200": the first
# bracket lists the UDF calls, with their input and result expression ids
_UDF_LIST = re.compile(r"^\w*EvalPython\w* \[(.*?)\], \[")


def read_events(path: Path) -> list[dict]:
    """All events of one application's uncompressed, unrolled event log."""
    files = [path] if path.is_file() else sorted(p for p in path.rglob("*") if p.is_file()
                                                   and not p.name.startswith("."))
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _walk(node: dict):
    """Every node of a plan tree, the root first."""
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _node_key(node: dict) -> tuple:
    """Identity of a physical node: its metric ids.  A reused exchange's
    subtree appears twice in the plan info but carries the same ids."""
    ids = tuple(sorted(m["accumulatorId"] for m in node.get("metrics", [])))
    return ids or (node["nodeName"], node["simpleString"])


def _metric_ids(node: dict) -> dict[str, int]:
    return {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}


def is_python_node(node: dict) -> bool:
    return _PY_SENT in _metric_ids(node)


def is_extract_node(node: dict) -> bool:
    """The ``operators.extract`` MapInPandas: the only Python node whose
    output carries the extraction result columns."""
    s = node.get("simpleString", "")
    return node["nodeName"] == "MapInPandas" and "extracted_by_ocr" in s


def dup_python_udfs(plan: dict) -> int:
    """UDF calls evaluated by more than one Python node of one final plan:
    each extra node evaluating an identical ``udf(args#id)#id`` counts one."""
    seen: dict[tuple, str] = {}
    for node in _walk(plan):
        m = _UDF_LIST.match(node.get("simpleString", ""))
        if m and is_python_node(node):
            seen.setdefault(_node_key(node), m.group(1))
    counts = Counter(seen.values())
    return sum(c - 1 for c in counts.values())


def _find(plan: dict, pred) -> list[dict]:
    out, keys = [], set()
    for node in _walk(plan):
        if pred(node) and _node_key(node) not in keys:
            keys.add(_node_key(node))
            out.append(node)
    return out


def _shuffle_exchanges(node: dict) -> list[dict]:
    return _find(node, lambda n: n["nodeName"] == "Exchange")


class EventLog:
    """Per-job-group view of one event log.  Jobs are attributed to the
    group the benchmark set with ``setJobGroup`` before each timed call."""

    def __init__(self, events: list[dict]) -> None:
        self.job_group: dict[int, str] = {}
        self.stage_group: dict[int, str] = {}
        self.stage_accums: dict[int, dict[int, float]] = {}
        self.tasks: list[dict] = []
        self.exec_group: dict[int, str] = {}
        self.final_plan: dict[int, dict] = {}
        driver_accums: dict[int, float] = defaultdict(float)
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                self.job_group[e["Job ID"]] = g
                for sid in e["Stage IDs"]:
                    self.stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stage_accums[info["Stage ID"]] = {
                    a["ID"]: _num(a.get("Value")) for a in info.get("Accumulables", [])
                }
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                if m:
                    self.tasks.append({"stage": e["Stage ID"], "metrics": m})
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                self.exec_group[e["executionId"]] = e.get("jobGroupId") or ""
                self.final_plan[e["executionId"]] = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                self.final_plan[e["executionId"]] = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for aid, v in e["accumUpdates"]:
                    driver_accums[aid] += v
        self.driver_accums = dict(driver_accums)

    # ---- helpers over a set of groups ----

    def _in(self, group: str, groups) -> bool:
        """``groups`` holds exact group ids, or prefixes ending in ':'."""
        return any(group == g or (g.endswith(":") and group.startswith(g))
                   for g in groups)

    def plans(self, groups) -> list[dict]:
        return [p for x, p in sorted(self.final_plan.items())
                if self._in(self.exec_group.get(x, ""), groups)]

    def jobs(self, groups) -> int:
        return sum(1 for g in self.job_group.values() if self._in(g, groups))

    def stages(self, groups) -> list[int]:
        return [s for s, g in self.stage_group.items()
                if self._in(g, groups) and s in self.stage_accums]

    def accum(self, aid: int) -> float:
        """Final value of one SQL metric, summed over stages (task-side
        metrics) plus driver-side updates."""
        return sum(a.get(aid, 0.0) for a in self.stage_accums.values()) + \
            self.driver_accums.get(aid, 0.0)

    def stages_of(self, node: dict) -> list[int]:
        ids = set(_metric_ids(node).values())
        return [s for s, acc in self.stage_accums.items() if ids & acc.keys()]

    def task_run_ms(self, stages) -> list[float]:
        stages = set(stages)
        return [t["metrics"].get("Executor Run Time", 0) for t in self.tasks
                if t["stage"] in stages]

    # ---- layer summaries ----

    def spark_totals(self, groups) -> dict:
        stages = set(self.stages(groups))
        tot = Counter()
        peak = 0
        for t in self.tasks:
            if t["stage"] not in stages:
                continue
            m = t["metrics"]
            tot["tasks"] += 1
            tot["run_ms"] += m.get("Executor Run Time", 0)
            tot["cpu_ns"] += m.get("Executor CPU Time", 0)
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            tot["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            peak = max(peak, m.get("Peak Execution Memory", 0))
        return {
            "jobs": self.jobs(groups), "stages": len(stages), "tasks": tot["tasks"],
            "executor_run_s": tot["run_ms"] / 1e3, "executor_cpu_s": tot["cpu_ns"] / 1e9,
            "gc_s": tot["gc_ms"] / 1e3, "shuffle_write_bytes": tot["shuffle_write"],
            "spill_bytes": tot["spill"], "peak_exec_memory_bytes": peak,
        }

    def python_boundary(self, groups, extract_only: bool) -> dict:
        """Python-node SQL metrics; with ``extract_only`` just the
        extraction MapInPandas, else every Python node."""
        pred = is_extract_node if extract_only else is_python_node
        out = Counter()
        for plan in self.plans(groups):
            for node in _find(plan, pred):
                ids = _metric_ids(node)
                out["nodes"] += 1
                out["rows"] += self.accum(ids.get("number of output rows", -1))
                out["bytes_to_python"] += self.accum(ids[_PY_SENT])
                out["bytes_from_python"] += self.accum(ids.get(_PY_RECV, -1))
                out["python_s"] += self.accum(ids.get(_PY_TIME, -1)) / 1e3
        return dict(out)

    def extraction_stages(self, groups) -> tuple[list[int], list[int], float]:
        """(stages running the extraction node, exchanges below it per
        plan, shuffle bytes those exchanges wrote)."""
        stages, exchanges, shuffle = set(), [], 0.0
        for plan in self.plans(groups):
            for node in _find(plan, is_extract_node):
                stages.update(self.stages_of(node))
                ex = _shuffle_exchanges(node)
                exchanges.append(len(ex))
                for x in ex:
                    shuffle += self.accum(_metric_ids(x).get("shuffle bytes written", -1))
        return sorted(stages), exchanges, shuffle

    def plan_counts(self, groups) -> dict:
        py, dups = 0, 0
        for plan in self.plans(groups):
            py += len(_find(plan, is_python_node))
            dups += dup_python_udfs(plan)
        return {"python_nodes": py, "dup_python_udfs": dups}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def skew(values: list[float]) -> float:
    """max ÷ median; 0 when there is nothing to compare."""
    if not values:
        return 0.0
    med = statistics.median(values)
    return max(values) / med if med > 0 else 0.0
