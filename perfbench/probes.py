"""Measurement probes read from outside the engine.

- ``ProcTree``: CPU seconds and peak RSS of this process, the Spark JVM it
  launched and the JVM's Python workers, from ``/proc``; ``steal_s``:
  the host's steal time.
- ``read_status_store`` / ``spark_window``: jobs, stages and executor
  metrics from Spark's AppStatusStore, read once after the timed region
  and attributed to wall-clock windows (one benchmark line or one DAG run
  at a time).
- ``Tracer``: in-memory spans with parents and self times.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc ----------------------------------------------------------------


def _proc_stat(pid: int) -> tuple[str, int, int] | None:
    """(comm, ppid, cpu ticks incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): utime=14, stime=15, cutime=16, cstime=17
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks


class ProcTree:
    """This process and all its descendants, classified as the Python
    driver (this process), the JVM (``java``) and the JVM's descendants
    (PySpark daemon and workers).

    CPU is the sum of utime+stime+cutime+cstime over live processes, so
    a worker that exits between two snapshots moves its ticks into its
    parent's cutime and the delta stays exact."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def members(self) -> dict[int, tuple[str, int, int]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _proc_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        out = {self.root: stats[self.root]}
        grew = True
        while grew:
            grew = False
            for pid, st in stats.items():
                if pid not in out and st[1] in out:
                    out[pid] = st
                    grew = True
        return out

    def classify(self, members) -> dict[int, str]:
        jvms = {p for p, st in members.items() if st[0] == "java"}
        kinds = {}
        for pid, (comm, ppid, _) in members.items():
            if pid == self.root:
                kinds[pid] = "driver_py"
            elif pid in jvms:
                kinds[pid] = "jvm"
            else:
                kinds[pid] = "pyworker" if self._under(pid, jvms, members) else "other"
        return kinds

    def _under(self, pid: int, ancestors: set[int], members) -> bool:
        while pid in members and pid != self.root:
            pid = members[pid][1]
            if pid in ancestors:
                return True
        return False

    def cpu_snapshot(self) -> dict[str, float]:
        members = self.members()
        kinds = self.classify(members)
        out: dict[str, float] = {}
        for pid, (_, _, ticks) in members.items():
            out[kinds[pid]] = out.get(kinds[pid], 0.0) + ticks / CLK_TCK
        return out

    def reset_peak_rss(self) -> None:
        """Reset each member's VmHWM to its current RSS (Linux >= 4.0)."""
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        """Sum of per-process peak RSS since the last reset."""
        total_kb = 0
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return total_kb / 1024.0

    def descendants(self) -> list[int]:
        return [p for p in self.members() if p != self.root]


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    keys = set(before) | set(after)
    return {k: after.get(k, 0.0) - before.get(k, 0.0) for k in keys}


def steal_s() -> float:
    """CPU time the hypervisor gave other guests, summed over the host's
    CPUs: a rise during a run marks a noisy neighbour, not a slower
    program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0


# -- Spark AppStatusStore --------------------------------------------------


@dataclass
class SparkWindow:
    """Spark work whose jobs were submitted inside one wall-clock window."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    job_busy_s: float = 0.0

    def add(self, other: "SparkWindow") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _opt_ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt.isDefined() else None


def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def read_status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages the status store retains, as plain dicts."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.jvm.java.util.ArrayList()
    jobs = []
    for j in _seq(store.jobsList(empty)):
        jobs.append(
            {
                "id": int(j.jobId()),
                "submit_ms": _opt_ms(j.submissionTime()),
                "end_ms": _opt_ms(j.completionTime()),
                "stage_ids": [int(s) for s in _seq(j.stageIds())],
            }
        )
    stage_list = store.stageList(
        empty,
        getattr(store, "stageList$default$2")(),
        getattr(store, "stageList$default$3")(),
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    )
    stages: dict[int, dict] = {}
    for s in _seq(stage_list):
        if str(s.status().toString()) == "SKIPPED":
            continue
        sid = int(s.stageId())
        rec = stages.setdefault(
            sid,
            {"tasks": 0, "cpu_ns": 0, "run_ms": 0, "gc_ms": 0, "shw": 0, "shr": 0, "spill": 0},
        )
        rec["tasks"] += int(s.numTasks())
        rec["cpu_ns"] += int(s.executorCpuTime())
        rec["run_ms"] += int(s.executorRunTime())
        rec["gc_ms"] += int(s.jvmGcTime())
        rec["shw"] += int(s.shuffleWriteBytes())
        rec["shr"] += int(s.shuffleReadBytes())
        rec["spill"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
    return jobs, stages


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def spark_window(jobs: list[dict], stages: dict[int, dict], start: float, end: float) -> SparkWindow:
    """Aggregate the jobs submitted in [start, end) (epoch seconds)."""
    lo, hi = start * 1000.0, end * 1000.0
    picked = [j for j in jobs if j["submit_ms"] is not None and lo <= j["submit_ms"] < hi]
    w = SparkWindow(jobs=len(picked))
    seen: set[int] = set()
    for j in picked:
        for sid in j["stage_ids"]:
            if sid in stages and sid not in seen:
                seen.add(sid)
                st = stages[sid]
                w.stages += 1
                w.tasks += st["tasks"]
                w.executor_cpu_s += st["cpu_ns"] / 1e9
                w.executor_run_s += st["run_ms"] / 1e3
                w.gc_s += st["gc_ms"] / 1e3
                w.shuffle_write_mb += st["shw"] / 1e6
                w.shuffle_read_mb += st["shr"] / 1e6
                w.spill_mb += st["spill"] / 1e6
    w.job_busy_s = _union_s(
        [(j["submit_ms"] / 1e3, (j["end_ms"] or hi) / 1e3) for j in picked]
    )
    return w


# -- spans -----------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; a span's parent is the innermost open span
    on the same thread, or, on a thread with none open (a DAG worker),
    the open ``workload`` span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.root: Span | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, kind: str, **attrs) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            span = Span(len(self.spans), parent.id if parent else None, name, kind, time.time(), attrs=attrs)
            self.spans.append(span)
        stack.append(span)
        if kind == "workload":
            self.root = span
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        if span in stack:
            del stack[stack.index(span) :]
        if span is self.root:
            self.root = None

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        s = self.open(name, kind, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the union of its children's."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            if s.end is None:
                continue
            kids = [
                (max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.id, [])
                if c.end is not None and c.end > s.start and c.start < s.end
            ]
            out[s.id] = (s.end - s.start) - _union_s(kids)
        return out

    def summary(self) -> dict[str, dict]:
        """Per (kind, name): count, total and self seconds."""
        selfs = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.end is None:
                continue
            rec = out.setdefault(f"{s.kind}:{s.name}", {"count": 0, "total_s": 0.0, "self_s": 0.0})
            rec["count"] += 1
            rec["total_s"] += s.end - s.start
            rec["self_s"] += selfs[s.id]
        return out
