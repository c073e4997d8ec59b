"""Measurement plumbing: /proc process-tree accounting, the Spark event-log
ledger, and the layer tracer that tags each layer's jobs with a job group.

Nothing here changes what the program computes. The tracer only wraps calls
into the program's public functions, and the crawl tracer forces DataFrames
with noop writes, never with ``cache`` or ``localCheckpoint``.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_MB = float(1 << 20)


# ---------------------------------------------------------------------------
# /proc accounting
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, CPU seconds of the process and its reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        rp = s.rindex(")")
        f = s[rp + 2 :].split()
        # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        cpu = sum(int(x) for x in f[11:15]) / _CLK
        out[int(d)] = (int(f[1]), s[s.index("(") + 1 : rp], cpu)
    return out


def _subtree(table, root: int) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(children[pid])
    return out


def tree_cpu_s() -> float:
    """CPU seconds so far of this process and all its descendants (the JVM
    and its Python workers), reaped children included."""
    table = _proc_table()
    return sum(table[p][2] for p in _subtree(table, os.getpid()))


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def steal_s() -> float:
    """Machine-wide hypervisor steal time so far, in CPU-seconds."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK


@dataclass
class ProcSample:
    tree_cpu_s: float  # driver + JVM + Python workers, reaped children included
    py_worker_cpu_s: float  # Python processes under the JVM (daemon + workers)
    steal_s: float


class ProcTree:
    """CPU and peak RSS of this driver process, its JVM and the JVM's Python
    workers, read from /proc."""

    def __init__(self, jvm_pid: int):
        self.root = os.getpid()
        self.jvm_pid = jvm_pid

    def sample(self) -> ProcSample:
        table = _proc_table()
        tree = sum(table[p][2] for p in _subtree(table, self.root))
        py = sum(
            table[p][2]
            for p in _subtree(table, self.jvm_pid)
            if p != self.jvm_pid and table[p][1].startswith("python")
        )
        return ProcSample(tree, py, steal_s())

    def peak_rss_mb(self) -> float:
        return _vm_hwm_mb(self.root) + _vm_hwm_mb(self.jvm_pid)


# ---------------------------------------------------------------------------
# Spark event-log ledger
# ---------------------------------------------------------------------------


@dataclass
class Job:
    group: str
    start: float  # epoch seconds
    end: float


@dataclass
class Task:
    group: str
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_mb: float
    spill_mb: float
    empty: bool


@dataclass
class Ledger:
    """Jobs, stages and tasks of one application, read from its event log.
    A job's and a task's group is the ``spark.jobGroup.id`` local property
    that was set when it was submitted ("" when none was)."""

    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, tuple[str, float]] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)

    @classmethod
    def read(cls, event_dir: str) -> Ledger:
        (path,) = glob.glob(os.path.join(event_dir, "*"))
        led = cls()
        job_start: dict[int, tuple[str, float]] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_start[ev["Job ID"]] = (group, ev["Submission Time"] / 1e3)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
                    group, start = job_start[ev["Job ID"]]
                    led.jobs.append(Job(group, start, ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    led.stages[info["Stage ID"]] = (group, info.get("Submission Time", 0) / 1e3)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    touched = (
                        (m.get("Input Metrics") or {}).get("Records Read", 0)
                        + (m.get("Output Metrics") or {}).get("Records Written", 0)
                        + sr.get("Total Records Read", 0)
                        + sw.get("Shuffle Records Written", 0)
                    )
                    led.tasks.append(
                        Task(
                            led.stages.get(ev["Stage ID"], ("", 0.0))[0],
                            info["Launch Time"] / 1e3,
                            info["Finish Time"] / 1e3,
                            m.get("Executor Run Time", 0) / 1e3,
                            m.get("Executor CPU Time", 0) / 1e9,
                            m.get("JVM GC Time", 0) / 1e3,
                            sw.get("Shuffle Bytes Written", 0) / _MB,
                            m.get("Disk Bytes Spilled", 0) / _MB,
                            touched == 0,
                        )
                    )
        return led

    def select(self, t0: float, t1: float, layer: str | None = None) -> LedgerSlice:
        """Jobs submitted and tasks launched in [t0, t1]; with ``layer``,
        only those whose job-group path has ``layer`` as one segment."""

        def keep(group: str, t: float) -> bool:
            return t0 <= t <= t1 and (layer is None or layer in group.split("/"))

        return LedgerSlice(
            [j for j in self.jobs if keep(j.group, j.start)],
            sum(1 for g, t in self.stages.values() if keep(g, t)),
            [k for k in self.tasks if keep(k.group, k.launch)],
            t0,
            t1,
        )


@dataclass
class LedgerSlice:
    jobs: list[Job]
    n_stages: int
    tasks: list[Task]
    t0: float
    t1: float

    def total(self, attr: str) -> float:
        return sum(getattr(k, attr) for k in self.tasks)

    def busy_s(self) -> float:
        """Task-slot seconds occupied (launch to finish of every task)."""
        return sum(k.finish - k.launch for k in self.tasks)

    def job_covered_s(self) -> float:
        """Wall time in [t0, t1] during which at least one job was running."""
        covered, reach = 0.0, self.t0
        for j in sorted(self.jobs, key=lambda j: j.start):
            s, e = max(j.start, reach), min(j.end, self.t1)
            if e > s:
                covered += e - s
                reach = e
        return covered


# ---------------------------------------------------------------------------
# Layer tracer
# ---------------------------------------------------------------------------


@dataclass
class Span:
    layer: str
    start: float
    end: float
    parent: str  # job-group path active when the call was made


class Tracer:
    """Wraps calls into public functions of the program's modules, records a
    span per call and tags the Spark jobs each call runs with a job group.

    Job groups nest as '/'-joined paths of the active layers, so the ledger
    can attribute a job to every layer on the call stack."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[str] = []
        self.spans: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def group(self, layer: str):
        parent = "/".join(self.stack)
        self.stack.append(layer)
        path = "/".join(self.stack)
        self.sc.setJobGroup(path, path)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(layer, start, time.time(), parent))
            self.stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent or None)

    def patch(self, module: str, name: str, wrapper) -> None:
        """Replace function ``module.name`` by ``wrapper(fn)`` everywhere a
        loaded ``nutch_spark`` module refers to it by name."""
        fn = getattr(importlib.import_module(module), name)
        wrapped = wrapper(fn)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("nutch_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapped)
                    self._undo.append((mod, attr, fn))

    def public_functions(self, module: str) -> list[str]:
        mod = importlib.import_module(module)
        return [
            n
            for n, v in vars(mod).items()
            if not n.startswith("_") and inspect.isfunction(v) and v.__module__ == module
        ]

    def unpatch(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()

    def outer_wall_s(self, layer: str) -> float:
        """Summed duration of the layer's calls that were not made from
        inside another call of the same layer."""
        return sum(
            s.end - s.start
            for s in self.spans
            if s.layer == layer and layer not in s.parent.split("/")
        )
