"""Span recorder, Spark status-store collector and process memory probe.

Spans are recorded from the benchmark's own files around calls into the
program's public functions; they stay in memory and are written out when
the run ends. Stage metrics come from the status store
(``sc._jsc.sc().statusStore()``) and are attributed to spans by stage
submission time.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


class Spans:
    """In-memory spans: (name, start, end, parent, op id), plus the number
    of Spark jobs submitted inside each span when ``jobs`` counts them."""

    def __init__(self, jobs=None):
        self.jobs = jobs
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        j0 = self.jobs() if self.jobs else 0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.jobs:
                rec["jobs"] = self.jobs() - j0
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered = 0.0
            cur_s = cur_e = None
            for a, b in sorted(kids.get(i, [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append((s["end"] - s["start"]) - covered)
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Stage rows from Spark's status store (UI may be disabled)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()

    def max_stage_id(self) -> int:
        seq = self._stage_seq()
        return seq.apply(0).stageId() if seq.size() else -1

    def _stage_seq(self):
        empty = self.spark.sparkContext._gateway.new_array(self.jvm.double, 0)
        # all five arguments: py4j does not fill Scala default parameters
        return self.store.stageList(None, False, False, empty, None)

    def stages_after(self, stage_id: int, with_tasks: bool = False) -> list[dict]:
        """Completed stages with id > ``stage_id`` as plain dicts."""
        seq = self._stage_seq()
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= stage_id:
                break  # the store lists stages newest first
            if str(s.status().toString()) != "COMPLETE":
                continue
            row = {
                "id": sid,
                "name": s.name(),
                "tasks": s.numTasks(),
                "submit": _opt_ms(s.submissionTime()),
                "complete": _opt_ms(s.completionTime()),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1000.0,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_write_records": s.shuffleWriteRecords(),
                "shuffle_read_records": s.shuffleReadRecords(),
                "spill_bytes": s.diskBytesSpilled(),
            }
            if with_tasks:
                tl = self.store.taskList(sid, s.attemptId(), 100000)
                row["task_s"] = sorted(
                    tl.apply(j).taskMetrics().get().executorRunTime() / 1000.0
                    for j in range(tl.size())
                    if tl.apply(j).taskMetrics().isDefined()
                )
            out.append(row)
        return sorted(out, key=lambda r: r["id"])

    def sql_plan_rows(self, since_exec_id: int) -> list[tuple[int, str, str, int]]:
        """(execution id, node name, node desc, output rows) for SQL
        executions with id > ``since_exec_id``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= since_exec_id:
                continue
            vals = sql.executionMetrics(eid)
            graph = sql.planGraph(eid)
            nodes = graph.allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                rows = 0
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() == "number of output rows":
                        v = vals.get(m.accumulatorId())
                        if v.isDefined():
                            rows = int(str(v.get()).replace(",", "").split()[0] or 0)
                out.append((eid, node.name(), node.desc(), rows))
        return out

    def max_execution_id(self) -> int:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    def python_plan_executions(self, since_exec_id: int) -> int:
        """SQL executions since ``since_exec_id`` whose physical plan runs
        Python (pandas/Arrow/batch UDF nodes)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        n = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() <= since_exec_id:
                continue
            plan = e.physicalPlanDescription()
            if any(k in plan for k in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "PythonMapInArrow")):
                n += 1
        return n


def job_count(sc) -> int:
    """Jobs submitted so far (ids are dense from 0; the store lists them
    newest first)."""
    seq = sc._jsc.sc().statusStore().jobsList(None)
    return seq.apply(0).jobId() + 1 if seq.size() else 0


# ---------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


def process_rss(root_pid: int) -> dict[str, float]:
    """RSS (MB) of this Python driver, the driver JVM and the Python
    workers under it."""
    kids = _children()
    out = {"driver_py": _rss_mb(root_pid), "jvm": 0.0, "workers": 0.0}
    stack = [(p, 1) for p in kids.get(root_pid, [])]
    while stack:
        pid, depth = stack.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm == "java":
            out["jvm"] += _rss_mb(pid)
        elif comm.startswith("python"):
            out["workers"] += _rss_mb(pid)
        stack.extend((c, depth + 1) for c in kids.get(pid, []))
    return out


class RssSampler:
    """Background sampler of the process tree's peak total RSS."""

    def __init__(self, root_pid: int, period: float = 0.25):
        self.root_pid = root_pid
        self.period = period
        self.peak = {"total": 0.0, "jvm": 0.0, "workers": 0.0, "driver_py": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self):
        r = process_rss(self.root_pid)
        total = r["jvm"] + r["workers"] + r["driver_py"]
        for k, v in (("total", total), *r.items()):
            self.peak[k] = max(self.peak[k], v)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
