"""Measurement taken from outside the program: spans around calls into
each layer, process-tree memory and CPU from ``/proc``, JVM garbage
collection time, Spark job/stage/task counts per operation and scan
metrics from executed plans."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(values):
    return statistics.median(values) if values else float("nan")


def quantile(values, q: float):
    """The q-quantile by linear interpolation between closest ranks."""
    if not values:
        return float("nan")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory and written
    out once at the end.  Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        rec = {"name": name, "op": op, "parent": stack[-1]["id"] if stack else None,
               "id": len(self.spans), "start": time.perf_counter()}
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict:
        """Per span name: total duration minus the time its child
        spans cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            if "end" in s:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


def _tree(root_pid: int) -> list:
    """root_pid and every live descendant, as (pid, comm, stat fields)."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        procs[int(entry)] = (comm, fields)
    kids: dict = {}
    for pid, (_, fields) in procs.items():
        kids.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append((pid, procs[pid][0], procs[pid][1]))
        todo.extend(kids.get(pid, ()))
    return out


def descendants(root_pid: int) -> list:
    """Live (not yet reaped) descendants of root_pid."""
    return [pid for pid, _, _ in _tree(root_pid) if pid != root_pid]


def _resident_bytes(pid: int) -> int:
    """Proportional resident set size: a page shared by n processes
    counts 1/n to each, so forked Python workers are not counted once
    per fork of their daemon's pages."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcSampler:
    """Samples the resident memory of this process tree (driver, JVM,
    Python workers) every ``period`` seconds; reads CPU time split by
    JVM and Python processes on demand."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_rss = 0
        self.peak_split: dict = {}  # resident bytes by process kind at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def start(self):
        self._thread.start()
        return self

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            split = {"jvm": 0, "python": 0}
            for pid, comm, _ in _tree(me):
                split["jvm" if comm.startswith("java") else "python"] += _resident_bytes(pid)
            total = split["jvm"] + split["python"]
            if total > self.peak_rss:
                self.peak_rss, self.peak_split = total, split
            self._stop.wait(self.period)

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)

    @staticmethod
    def cpu_seconds() -> dict:
        """{'jvm': s, 'python': s} of user+system CPU for the live tree."""
        out = {"jvm": 0.0, "python": 0.0}
        for _, comm, f in _tree(os.getpid()):
            secs = (int(f[11]) + int(f[12])) / _CLK_TCK
            out["jvm" if comm.startswith("java") else "python"] += secs
        return out


def steal_share(since: tuple | None = None):
    """The machine's CPU counters (steal, total) from ``/proc/stat``; given
    an earlier reading, the share of CPU time stolen by the hypervisor
    since then, which slows every timing of a run alike."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    now = (f[7], sum(f))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def gc_seconds(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0


class JobCounter:
    """Spark jobs, stages and tasks per benchmark operation, read from
    the status tracker through one job group per operation."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.groups: list = []

    @contextmanager
    def op(self, group: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.groups.append(group)

    def per_op(self, prefix: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = n = 0
        for g in self.groups:
            if not g.startswith(prefix):
                continue
            n += 1
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
        n = max(n, 1)
        return {"jobs": jobs / n, "stages": stages / n, "tasks": tasks / n}


def scan_metrics(df) -> dict:
    """Files, partitions and rows read by every file scan of an
    executed DataFrame, from the SQL metrics of its physical plan."""
    out = {"files": 0, "partitions": 0, "rows": 0}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            metrics = node.metrics()
            for key, name in (("files", "numFiles"), ("partitions", "numPartitions"),
                              ("rows", "numOutputRows")):
                opt = metrics.get(name)
                if opt.isDefined():
                    out[key] += opt.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out
