"""Measurement from outside the engine: statistics, process-tree CPU,
Spark block-storage sampling, in-memory spans and the event-log reader."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

MB = 1024 * 1024


def quartiles(values: list[float]) -> dict:
    """Median, quartiles and sample count (quartiles need two samples)."""
    vals = sorted(values)
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    else:
        q1 = q3 = med
    return {"p50": med, "q1": q1, "q3": q3, "n": len(vals)}


def canary_s(n: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop: a probe of how fast the
    machine runs right now, printed next to the timings it explains."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# CPU of the whole process tree (this process, JVM, Python workers)
# --------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in descendants(root or os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (proc(5) fields 14-17)
            total += sum(int(x) for x in f[11:15])
    return total / _CLK_TCK


# --------------------------------------------------------------------------
# Spark block storage, sampled from a side thread
# --------------------------------------------------------------------------


def storage_bytes(sc) -> int:
    """Bytes of cached RDD blocks (memory + disk) the context holds now."""
    return sum(
        int(info.memSize()) + int(info.diskSize())
        for info in sc._jsc.sc().getRDDStorageInfo()
    )


class StorageSampler:
    """Polls block storage every ``period`` seconds while entered;
    ``peak`` is the largest reading."""

    def __init__(self, sc, period: float = 0.05):
        self.sc = sc
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, storage_bytes(self.sc))
            self._stop.wait(self.period)

    def __enter__(self) -> "StorageSampler":
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="perfbench-storage", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=30)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans, written out once at the end of the run. With a
    SparkContext, each span also labels the Spark jobs started under it:
    the calling thread's job group is set to ``job_group(span)``."""

    prefix = "perfbench"

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def job_group(self, span: Span) -> str:
        return f"{self.prefix}:{span.id}:{span.name}"

    def span_of_group(self, group: str) -> int | None:
        parts = group.split(":")
        if len(parts) >= 3 and parts[0] == self.prefix and parts[1].isdigit():
            return int(parts[1])
        return None

    def children(self, span: Span) -> dict[str, Span]:
        return {s.name: s for s in self.spans if s.parent == span.id}

    def _label(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            g = self.job_group(span)
            self.sc.setJobGroup(g, g, False)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.tracer
        parent = t._stack[-1].id if t._stack else None
        self.span = Span(len(t.spans) + len(t._stack), self.name, time.time(), parent=parent)
        t._stack.append(self.span)
        t._label(self.span)
        return self.span

    def __exit__(self, *exc) -> None:
        t = self.tracer
        self.span.end = time.time()
        t._stack.pop()
        t.spans.append(self.span)
        t._label(t._stack[-1] if t._stack else None)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str
    start: float
    end: float = 0.0
    stages: set = field(default_factory=set)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, dict]  # stage id -> {"tasks", "failed", "job", ...}
    tasks: list[dict]


def read_event_log(path: str) -> EventLog:
    """Jobs (with the job group they were started under), the stages that
    actually ran, and per-task metrics from an uncompressed event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id") or "",
                    ev["Submission Time"] / 1000.0,
                )
                jobs[job.job_id] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                stages[sid] = {
                    "job": stage_job.get(sid),
                    "tasks": info["Number of Tasks"],
                    "failed": "Failure Reason" in info,
                }
                if stage_job.get(sid) in jobs:
                    jobs[stage_job[sid]].stages.add(sid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "failed": bool(ev["Task Info"].get("Failed")),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                )
    return EventLog(jobs, stages, tasks)


def spark_metrics(log: EventLog, job_ids: set[int]) -> dict:
    """The ``spark.*`` totals over the given jobs."""
    stage_ids = {sid for sid, st in log.stages.items() if st["job"] in job_ids}
    tasks = [t for t in log.tasks if t["stage"] in stage_ids]
    return {
        "jobs": len(job_ids),
        "stages": len(stage_ids),
        "tasks": len(tasks),
        "task_failures": sum(t["failed"] for t in tasks),
        "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / MB,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
        "spill_mb": sum(t["spill"] for t in tasks) / MB,
        "executor_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
    }
