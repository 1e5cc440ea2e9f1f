"""Tracing from outside the package: spans, Spark job groups, status
tracker counts, Python-worker CPU, mart listing diffs and the event-log
fold.

A span is one call into a layer's public function: name, start, end,
parent, run id. Each span sets its own Spark job group, so the jobs a
call triggers can be counted live through ``statusTracker()`` and
folded later from the event log. Spans stay in memory and are written
out once, when the run ends.

Everything here is inert when the tracer is disabled: ``span`` then
yields without touching Spark, the clock or ``/proc``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    python_cpu_s: float = 0.0
    probe_s: float = 0.0  # the tracer's own time: job group, /proc, counts
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder bound to one SparkSession. It is enabled only for
    the timed operations of a traced run."""

    def __init__(self, spark, run_id: str, enabled: bool):
        from pyspark import SparkContext

        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        p0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(id=len(self.spans), name=name,
                 parent=parent.id if parent else None,
                 run_id=self.run_id, start=0.0, attrs=dict(attrs))
        s.group = f"{self.run_id}-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        cpu0 = python_worker_cpu_s(self.jvm_pid)
        s.start = time.time()
        probe = time.perf_counter() - p0
        try:
            yield s
        finally:
            s.end = time.time()
            p1 = time.perf_counter()
            s.python_cpu_s = python_worker_cpu_s(self.jvm_pid) - cpu0
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc._jsc.clearJobGroup()
            self._count(s)
            s.probe_s = probe + time.perf_counter() - p1

    def _count(self, s: Span) -> None:
        """Exact job / stage / task counts of the span's own job group.
        A stage shared by several jobs counts once; a skipped stage
        (its shuffle output reused) counts as no stage and no task."""
        tracker = self.spark.sparkContext.statusTracker()
        stages = set()
        jobs = tracker.getJobIdsForGroup(s.group)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks, ran = 0, 0
        for st in stages:
            info = tracker.getStageInfo(st)
            if info is not None and info.numCompletedTasks > 0:
                ran += 1
                tasks += info.numCompletedTasks
        s.jobs, s.stages, s.tasks = len(jobs), ran, tasks

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s), sort_keys=True) + "\n")


# --- Python worker CPU ----------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """The fields of /proc/<pid>/stat from ``state`` on, or None once the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'.
    return raw[raw.rindex(")") + 2:].split()


def children(pid: int) -> list[int]:
    """Direct child pids of ``pid`` (empty once it has exited)."""
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process not yet reaped (a
    zombie) counts as ended."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(pid: int) -> list[int]:
    """Every pid below ``pid`` in the process tree."""
    out, todo = [], [pid]
    while todo:
        kids = children(todo.pop())
        out += kids
        todo += kids
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_s(jvm_pid: int) -> float:
    """utime + stime of the JVM's ``pyspark.daemon`` process tree, in
    seconds. The daemon's cutime/cstime carry the workers it already
    reaped; live workers are read directly."""
    ticks = 0
    for pid in children(jvm_pid):
        if "pyspark.daemon" not in _cmdline(pid):
            continue
        for p in [pid] + children(pid):
            f = _stat(p)
            if f is not None:
                # counted from state: utime=11 stime=12 cutime=13 cstime=14
                ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK


# --- mart listing diff ------------------------------------------------------

def listing(root: str) -> dict[str, tuple[int, int]]:
    """{relative data-file path: (size, mtime_ns)} under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def listing_diff(before: dict, after: dict) -> dict:
    """Files, bytes and partition directories written between two
    listings (new or replaced files)."""
    written = [p for p, v in after.items() if before.get(p) != v]
    return {"files": len(written),
            "bytes": sum(after[p][0] for p in written),
            "buckets": len({os.path.dirname(p) for p in written})}


# --- event-log fold ---------------------------------------------------------

TASK_FIELDS = {
    "executor_cpu_s": ("Executor CPU Time", 1e-9),
    "executor_run_s": ("Executor Run Time", 1e-3),
    "gc_s": ("JVM GC Time", 1e-3),
    "spill_bytes": ("Disk Bytes Spilled", 1),
    "peak_exec_mem_bytes": ("Peak Execution Memory", 1),
}
FOLD_KEYS = ["jobs", "stages", "tasks", *TASK_FIELDS,
             "shuffle_write_bytes", "shuffle_read_bytes",
             "foreign_jobs", "foreign_stages", "foreign_tasks"]


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def fold_event_log(path: str, spans: list[Span]) -> dict[str, dict]:
    """Fold an uncompressed event log by job group: {group: counters}.

    A job belongs to the span whose job group it carries. Jobs a
    streaming query runs carry the query's own group; they go to the
    innermost span whose interval holds the job's submission time (the
    benchmark is one closed-loop client, so spans never overlap except
    by nesting) and are also counted as ``foreign_*``. Task metrics
    follow their stage to its job."""
    by_group = {s.group: s for s in spans}
    stage_group: dict[int, tuple[str, bool]] = {}
    out: dict[str, dict] = {}

    def bucket(g: str) -> dict:
        return out.setdefault(g, {k: 0 for k in FOLD_KEYS})

    def enclosing(ms: int) -> str | None:
        t = ms / 1000.0
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.group if best else None

    wanted = ('{"Event":"SparkListenerJobStart"',
              '{"Event":"SparkListenerStageCompleted"',
              '{"Event":"SparkListenerTaskEnd"')
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.startswith(wanted):
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                foreign = g not in by_group
                if foreign:
                    g = enclosing(ev.get("Submission Time", 0))
                if g is None:
                    continue
                b = bucket(g)
                b["jobs"] += 1
                b["foreign_jobs"] += foreign
                for st in ev.get("Stage IDs", []):
                    stage_group.setdefault(st, (g, foreign))
            elif kind == "SparkListenerStageCompleted":
                st = ev["Stage Info"]["Stage ID"]
                if st in stage_group:
                    g, foreign = stage_group[st]
                    bucket(g)["stages"] += 1
                    bucket(g)["foreign_stages"] += foreign
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if ev.get("Stage ID") not in stage_group or not m:
                    continue
                g, foreign = stage_group[ev["Stage ID"]]
                b = bucket(g)
                b["tasks"] += 1
                b["foreign_tasks"] += foreign
                for key, (name, scale) in TASK_FIELDS.items():
                    v = m.get(name, 0) * scale
                    b[key] = max(b[key], v) if key == "peak_exec_mem_bytes" else b[key] + v
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                b["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
    return out


def job_call_sites(path: str) -> dict[str, dict[str, int]]:
    """{job group: {call site: number of jobs}} from an event log. PySpark
    records the Python line of each action (``first at <file>:<line>``),
    which counts loop iterations inside a package function from outside."""
    out: dict[str, dict[str, int]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                props = json.loads(line).get("Properties") or {}
                g, site = props.get("spark.jobGroup.id"), props.get("callSite.short")
                if g and site:
                    sites = out.setdefault(g, {})
                    sites[site] = sites.get(site, 0) + 1
    return out
