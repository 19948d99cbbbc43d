"""Measurement: wall/CPU/RSS of the process tree, and the traced layer
breakdown read from Spark's status store.

Untraced runs use only :class:`Meter` (clock and ``/proc`` reads on the
calling thread). Traced runs add :class:`Tracer`: spans around calls into
the package's modules, each span tagging the Spark jobs its thread submits
(``SparkContext.addJobTag``), and after the pass one read of the status
store, which the live listener keeps even with ``spark.ui.enabled=false``.
No thread or process is started here.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime seconds) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), ticks / _CLK)
    return out


def process_tree() -> dict[int, float]:
    """pid -> CPU seconds for this process and all its descendants: the
    Python driver, the JVM and the Python workers. Exited children are
    included through their parents' cutime/cstime."""
    root = os.getpid()
    table = _proc_table()
    kids = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    seen, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in seen or pid not in table:
            continue
        seen[pid] = table[pid][1]
        stack.extend(kids[pid])
    return seen


def tree_cpu_s() -> float:
    return sum(process_tree().values())


def tree_peak_rss_mb() -> dict[int, float]:
    """pid -> peak resident set (VmHWM) in MiB, for each process of the
    tree still alive."""
    out = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


class Meter:
    """Accumulates wall and tree-CPU seconds over timed segments; the
    segments of one pass sum to that pass's figures."""

    def __init__(self):
        self.wall = 0.0
        self.cpu = 0.0

    @contextmanager
    def segment(self):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.wall += time.perf_counter() - t0
            self.cpu += tree_cpu_s() - c0

    def take(self) -> tuple[float, float]:
        wall, cpu = self.wall, self.cpu
        self.wall = self.cpu = 0.0
        return wall, cpu


def patch(obj, attr: str, make) -> None:
    """Replace ``obj.attr`` by ``make(original)`` for the rest of the run
    (a run is one process)."""
    setattr(obj, attr, make(getattr(obj, attr)))


# ---------------------------------------------------------------------------
# traced runs
# ---------------------------------------------------------------------------

#: physical operators that cross the JVM/Python boundary
PY_BOUNDARY = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)
_PY_NODE = re.compile(r"^\(\d+\) (?:" + "|".join(PY_BOUNDARY) + r")\b", re.M)


def python_boundary_nodes(plan_description: str) -> int:
    """Python-boundary operators in an executed plan: entries of the
    formatted plan's node list, which has one numbered entry per node. An
    adaptive plan lists its initial and its final nodes, and a cached
    relation's plan is listed in every plan that reads it, so a node can
    count more than once; the count is what a change to the plans moves."""
    return len(_PY_NODE.findall(plan_description))


def union_length(spans) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans around calls into the program, with the Spark jobs each span's
    thread submitted. ``enabled=False`` makes every span a plain call."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._n = 0
        self._mapper = None

    def reset(self):
        """Forget the spans and overhead of the previous pass."""
        self.spans = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        o0 = time.perf_counter()
        sc = self.spark.sparkContext
        with self._lock:
            self._n += 1
            tag = f"pb{self._n}"
        sc.addJobTag(tag)
        rec = {"name": name, "tag": tag, "thread": threading.get_ident()}
        rec["start"] = time.time()
        self.overhead_s += time.perf_counter() - o0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            o1 = time.perf_counter()
            sc.removeJobTag(tag)
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - o1

    # -- status store ------------------------------------------------------
    def _json(self, obj) -> list:
        jvm = self.spark.sparkContext._jvm
        if self._mapper is None:
            scala = jvm.com.fasterxml.jackson.module.scala
            mod = getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(mod)
        return json.loads(self._mapper.writeValueAsString(obj))

    def last_ids(self) -> tuple[int, int]:
        """(highest job id, highest SQL execution id) so far."""
        jobs = self.jobs_after(-1, with_stages=False)
        sq = self.spark._jsparkSession.sharedState().statusStore()
        n = sq.executionsCount()
        last_exec = -1
        if n:
            last_exec = sq.executionsList(int(n) - 1, 1).apply(0).executionId()
        return max((j["jobId"] for j in jobs), default=-1), int(last_exec)

    def jobs_after(self, job_id: int, with_stages: bool = True) -> list[dict]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = [j for j in self._json(store.jobsList(None)) if j["jobId"] > job_id]
        if not with_stages:
            return jobs
        empty = sc._jvm.java.util.ArrayList()
        stages = {}
        for s in self._json(
            store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), empty)
        ):
            stages[(s["stageId"], s["attemptId"])] = s
        by_stage = defaultdict(list)
        for (sid, _att), s in stages.items():
            by_stage[sid].append(s)
        for j in jobs:
            j["stages"] = [s for sid in j["stageIds"] for s in by_stage.get(sid, [])
                           if s["status"] in ("COMPLETE", "FAILED")]
        return jobs

    def boundary_nodes_after(self, exec_id: int) -> int:
        sq = self.spark._jsparkSession.sharedState().statusStore()
        n = int(sq.executionsCount())
        total = 0
        for i in range(n - 1, -1, -1):
            e = sq.executionsList(i, 1).apply(0)
            if e.executionId() <= exec_id:
                break
            total += python_boundary_nodes(e.physicalPlanDescription())
        return total


def stage_sums(jobs: list[dict]) -> dict:
    """Executor-side totals over the stages the given jobs ran. A stage
    shared by several jobs (skipped re-use) is counted once."""
    seen = {}
    for j in jobs:
        for s in j["stages"]:
            seen[(s["stageId"], s["attemptId"])] = s
    st = seen.values()
    return {
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in st),
        "run_s": sum(s["executorRunTime"] for s in st) / 1e3,
        "cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / 2**20,
        "spill_mb": sum(s["diskBytesSpilled"] for s in st) / 2**20,
    }


def job_spans_s(jobs: list[dict]) -> list[tuple[float, float]]:
    return [
        (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]


def by_call_site(jobs: list[dict]) -> list[dict]:
    """Jobs grouped by the call site Spark recorded for them (the action
    that forced the work), heaviest first."""
    groups = defaultdict(lambda: {"jobs": 0, "wall_s": 0.0, "run_s": 0.0})
    for j in jobs:
        g = groups[j.get("name") or "?"]
        g["jobs"] += 1
        if j.get("submissionTime") and j.get("completionTime"):
            g["wall_s"] += (j["completionTime"] - j["submissionTime"]) / 1e3
        g["run_s"] += sum(s["executorRunTime"] for s in j["stages"]) / 1e3
    rows = [{"call_site": k, **v} for k, v in groups.items()]
    return sorted(rows, key=lambda r: -r["wall_s"])


# ---------------------------------------------------------------------------
# per-pass layer figures
# ---------------------------------------------------------------------------


class PassWindow:
    """Job and SQL-execution ids before and after a pass, so that the jobs
    of the pass (and nothing the checks ran afterwards) can be selected."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.job0, self.exec0 = tracer.last_ids()
        self.job1 = self.exec1 = None
        self.t0 = time.time()
        self.t1 = None
        self.skip_tags: set[str] = set()
        self.skip_s = 0.0

    def exclude(self, span: dict):
        """Leave a span of the benchmark's own work (checks) out of the
        pass totals: its jobs and its wall time."""
        self.skip_tags.add(span["tag"])
        self.skip_s += span["end"] - span["start"]

    def close(self):
        self.t1 = time.time()
        self.job1, self.exec1 = self.tracer.last_ids()


def pass_jobs(win: PassWindow, jobs: list[dict]) -> list[dict]:
    return [j for j in jobs if win.job0 < j["jobId"] <= win.job1
            and not win.skip_tags & set(j.get("jobTags") or ())]


def trace_record(tracer: Tracer, win: PassWindow, jobs: list[dict]) -> dict:
    """What a traced run writes out besides its metrics: the spans (times
    relative to the pass start) and the pass's jobs grouped by call site."""
    return {
        "spans": [{"name": s["name"], "start_s": s["start"] - win.t0, "end_s": s["end"] - win.t0}
                  for s in tracer.spans],
        "call_sites": by_call_site(pass_jobs(win, jobs)),
    }


def spark_totals(tracer: Tracer, win: PassWindow, jobs: list[dict]) -> dict:
    """The engine-wide per-pass metrics, over the jobs the pass submitted."""
    mine = pass_jobs(win, jobs)
    sums = stage_sums(mine)
    nodes = tracer.boundary_nodes_after(win.exec0) - tracer.boundary_nodes_after(win.exec1)
    wall = win.t1 - win.t0 - win.skip_s
    return {
        "spark.jobs": len(mine),
        "spark.tasks": sums["tasks"],
        "spark.executor_run_s": sums["run_s"],
        "spark.executor_cpu_s": sums["cpu_s"],
        "spark.gc_s": sums["gc_s"],
        "spark.shuffle_write_mb": sums["shuffle_write_mb"],
        "spark.spill_mb": sums["spill_mb"],
        "spark.driver_outside_jobs_s": max(0.0, wall - union_length(job_spans_s(mine))),
        "spark.python_boundary_nodes": nodes,
    }


def span_totals(tracer: Tracer, jobs: list[dict], name: str) -> dict:
    """Calls, summed wall seconds and the jobs tagged by spans ``name``."""
    spans = [s for s in tracer.spans if s["name"] == name]
    tags = {s["tag"] for s in spans}
    mine = [j for j in jobs if tags & set(j.get("jobTags") or ())]
    return {
        "calls": len(spans),
        "wall_s": sum(s["end"] - s["start"] for s in spans),
        "jobs": mine,
        "job_spans": job_spans_s(mine),
    }


def layer_values(layers: dict, pass_s: float) -> dict:
    """Every per-layer metric BENCHMARK.json declares, from one traced
    pass (0 where the workload has no such layer)."""
    from pathlib import Path

    with open(Path(__file__).resolve().parent.parent / "BENCHMARK.json") as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    values = {n: layers.get(n, 0.0) for n in names}
    values["trace.pass_s_p50"] = pass_s
    return values
