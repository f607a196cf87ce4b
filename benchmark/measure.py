"""Measurement helpers for the benchmark: latency percentiles, spans with
self time, per-op deltas read from Spark's status store, and the peak RSS
of the benchmark's process tree (Python driver, JVM, Python workers).

Everything here is measured from outside the program: spans wrap calls into
the package's public functions, and the status store is Spark's own record
of jobs and stages (it works with the UI disabled).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# Candidate tail percentiles, highest first. The reported tail is the highest
# one with at least MIN_BEYOND samples above it.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the numpy ``linear`` method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest candidate percentile that has at
    least ``MIN_BEYOND`` samples beyond it. With fewer than
    ``2 * MIN_BEYOND`` samples no percentile above the median qualifies,
    and the median is reported as the tail."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p), 6) >= 100 * MIN_BEYOND:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------
@dataclass
class Span:
    name: str
    start: float  # epoch seconds (time.time), comparable with status-store ms
    end: float
    parent: int | None
    op: int


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(i, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out.append((s.end - s.start) - union_length(clipped))
    return out


class Tracer:
    """Span recorder. Disabled, every method is a no-op, so the untraced run
    pays nothing. Spans stay in memory until :meth:`dump`."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = -1
        self.bookkeeping_s = 0.0  # time spent recording spans

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans[idx].end = time.time()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name`` around each call; :meth:`restore` puts the original back."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def op_spans(self, op: int) -> list[Span]:
        """The spans of one op, with parents renumbered into that list."""
        local: dict[int, int] = {}
        out = []
        for i, s in enumerate(self.spans):
            if s.op == op:
                local[i] = len(out)
                out.append(Span(s.name, s.start, s.end, local.get(s.parent), s.op))
        return out

    def dump(self, path: str) -> None:
        rows = [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, st in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + st
    return out


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------
def new_entries(
    jobs: list[dict], stages: list[dict], last_job: int, last_stage: int
) -> tuple[list[dict], list[dict], int, int]:
    """Jobs and stage attempts newer than the last ones seen. Ops run one at
    a time, so everything new since the previous call belongs to this op."""
    new_jobs = [j for j in jobs if j["jobId"] > last_job]
    new_stages = [s for s in stages if s["stageId"] > last_stage]
    last_job = max([last_job] + [j["jobId"] for j in new_jobs])
    last_stage = max([last_stage] + [s["stageId"] for s in new_stages])
    return new_jobs, new_stages, last_job, last_stage


def jobs_in_span(jobs: list[dict], start: float, end: float) -> int:
    """Jobs submitted while a span was open (status-store times are epoch ms)."""
    lo, hi = start * 1000.0 - 1.0, end * 1000.0 + 1.0
    return sum(1 for j in jobs if lo <= (j.get("submissionTime") or 0) <= hi)


def exec_summary(
    jobs: list[dict], stages: list[dict], op_start: float, op_end: float, cores: int
) -> dict[str, float]:
    """Engine-side view of one op from its status-store delta."""
    wall = max(op_end - op_start, 1e-9)
    busy = union_length(
        [
            (
                max(j["submissionTime"] / 1000.0, op_start),
                min((j.get("completionTime") or j["submissionTime"]) / 1000.0, op_end),
            )
            for j in jobs
            if j.get("submissionTime")
        ]
    )
    task_s = sum(s.get("executorRunTime", 0) for s in stages) / 1000.0
    return {
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(stages)),
        "exec.tasks": float(sum(s.get("numCompleteTasks", 0) for s in stages)),
        "exec.driver_gap_s": max(wall - busy, 0.0),
        "exec.task_s": task_s,
        "exec.slot_busy_ratio": task_s / (wall * cores),
        "exec.shuffle_read_bytes": float(sum(s.get("shuffleReadBytes", 0) for s in stages)),
        "exec.shuffle_write_bytes": float(sum(s.get("shuffleWriteBytes", 0) for s in stages)),
        "exec.shuffle_records": float(sum(s.get("shuffleWriteRecords", 0) for s in stages)),
        "exec.spill_bytes": float(
            sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages)
        ),
        "exec.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000.0,
    }


class StatusStore:
    """Reads jobs and stages from ``sc._jsc.sc().statusStore()`` as JSON (one
    py4j call per list, serialized by the Jackson mapper Spark ships)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        scala = self._jvm.com.fasterxml.jackson.module.scala
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self.last_job = -1
        self.last_stage = -1
        self.read_s = 0.0
        self.delta()  # everything before now belongs to no op

    def _lists(self) -> tuple[list[dict], list[dict]]:
        empty = self._jvm.java.util.ArrayList
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(empty())))
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(
                    empty(), False, False, self._gw.new_array(self._jvm.double, 0), empty()
                )
            )
        )
        return jobs, stages

    def delta(self) -> tuple[list[dict], list[dict]]:
        t0 = time.perf_counter()
        jobs, stages = self._lists()
        new_jobs, new_stages, self.last_job, self.last_stage = new_entries(
            jobs, stages, self.last_job, self.last_stage
        )
        self.read_s += time.perf_counter() - t0
        return new_jobs, new_stages


# ---------------------------------------------------------------------------
# Peak resident memory of the process tree
# ---------------------------------------------------------------------------
def _parents() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    out[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_memory_bytes(root: int) -> int:
    """Resident memory of ``root``, the JVM it started and the JVM's Python
    workers. Python processes count their PSS, so pages that forked workers
    share count once; the JVM counts its RSS (reading its PSS costs tens of
    ms). A JVM's own short-lived children (``fork`` before ``exec`` of a
    shell helper) would repeat the JVM's whole footprint and are skipped."""
    parents = _parents()
    kids: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        kids.setdefault(ppid, []).append(pid)
    total = 0
    todo = [(root, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if pid == root or exe.startswith("python"):
            total += _pss_bytes(pid)
        elif exe == "java" and parent_exe != "java":
            total += _rss_bytes(pid)
        todo.extend((c, exe) for c in kids.get(pid, []))
    return total


class RssSampler:
    """Samples :func:`tree_memory_bytes` of this process on a thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_memory_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
