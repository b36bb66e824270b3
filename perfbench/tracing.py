"""Tracing for the benchmark's traced runs, measured from outside the engine.

- :class:`Tracer` times every op the workload issues (``op``), tags its
  Spark jobs with ``setJobGroup``, samples JVM heap after it, and keeps
  spans in memory. ``install`` wraps the engine's public layer entry
  points (:data:`WRAPPED`) so each call records a span; the wrappers
  pass straight through while the tracer is inactive, which is how a
  traced run interleaves untraced rounds to measure its own overhead.
- :func:`parse_event_log` reads the Spark event log once the session has
  stopped: jobs, stages, tasks and task metrics, attributed to ops by
  job group, or by submission time for jobs submitted from plain
  threads that do not inherit the group.
- :func:`pyworker_cpu_s` reads the CPU time of this process tree's
  ``pyspark.daemon`` workers from ``/proc``.
"""

from __future__ import annotations

import bisect
import functools
import importlib
import itertools
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, function) pairs whose calls become spans in a traced run.
WRAPPED = (
    ("weatherflow_spark.operators.star", "load_star_warehouse"),
    ("weatherflow_spark.operators.upsert", "upsert_by_key"),
    ("weatherflow_spark.operators.whlog", "commit_warehouse"),
    ("weatherflow_spark.operators.whlog", "maintain_warehouse"),
    ("weatherflow_spark.operators.whlog", "read_warehouse"),
    ("weatherflow_spark.operators.overlap", "overlap_materialize"),
    ("weatherflow_spark.operators.overlap", "overlap_branches"),
)
BRANCH = "overlap.branch"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    """One timed operation. Times are ``time.time()`` seconds, so they
    compare with the event log's millisecond timestamps."""

    index: int
    round: int
    kind: str
    name: str
    traced: bool
    start: float = 0.0
    end: float = 0.0
    build_end: float | None = None
    ok: bool = True
    error: str | None = None
    extra: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def build_s(self) -> float:
        return (self.build_end or self.start) - self.start


def describe_error(exc: BaseException) -> str:
    """Error class plus the first line of the root cause."""
    java = getattr(exc, "java_exception", None)
    if java is None:
        first = (str(exc).strip().splitlines() or [""])[0]
        return f"{type(exc).__name__}: {first}"[:300]
    top = java
    try:
        cond = top.getCondition() if hasattr(top, "getCondition") else None
    except Exception:  # not a SparkThrowable
        cond = None
    root = java
    while root.getCause() is not None:
        root = root.getCause()
    cls = top.getClass().getName()
    cause = (str(root.toString()).splitlines() or [""])[0]
    tag = f"[{cond}]" if cond else ""
    return f"{type(exc).__name__}: {cls}{tag}: {cause}"[:300]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.active = False
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self.heap_peak_mb = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _current_op(self) -> int | None:
        return self.ops[-1].index if self.ops else None

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        if not self.active:
            yield None
            return
        stack = self._stack()
        if parent is None:
            # A thread the engine started itself (the loader's merge
            # pool) has no span of its own: its caller is the innermost
            # span open on the main thread.
            parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(next(self._ids), parent, name, self._current_op(), time.time())
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                if name == "overlap_branches":
                    thunks = args[0] if args else kwargs.pop("thunks")
                    args = (tracer._timed_branches(thunks, sp.id),) + tuple(args[1:])
                return fn(*args, **kwargs)

        return wrapper

    def _timed_branches(self, thunks, parent: int):
        def timed(thunk):
            def run():
                with self.span(BRANCH, parent=parent):
                    return thunk()
            return run
        return [timed(t) for t in thunks]

    def install(self) -> None:
        """Replace each :data:`WRAPPED` function, in its module and in
        every engine module that imported it by name."""
        for mod_name, fn_name in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            wrapped = self._wrap(fn_name, orig)
            for name, mod in list(sys.modules.items()):
                if name.startswith("weatherflow_spark") and getattr(mod, fn_name, None) is orig:
                    setattr(mod, fn_name, wrapped)

    # -- ops ---------------------------------------------------------
    @contextmanager
    def op(self, round_no: int, kind: str, name: str):
        """Time one operation. Exceptions are recorded on the op and
        swallowed: a failed op is counted, and the run carries on."""
        o = Op(len(self.ops), round_no, kind, name, self.active)
        self.ops.append(o)
        sc = self.spark.sparkContext
        if self.active:
            sc.setJobGroup(f"perfbench-{o.index}", f"{kind}:{name}", False)
        o.start = time.time()
        try:
            yield o
        except Exception as exc:  # the boundary that must keep running
            o.ok = False
            o.error = describe_error(exc)
        finally:
            o.end = time.time()
            if self.active:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rt = self.spark._jvm.java.lang.Runtime.getRuntime()
                used = (rt.totalMemory() - rt.freeMemory()) / 2**20
                self.heap_peak_mb = max(self.heap_peak_mb, used)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "ops": [vars(o) for o in self.ops],
                "spans": [vars(s) | {"self_s": d} for s, d in zip(self.spans, self.self_times())],
            }, f)

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out.append(s.dur - covered)
        return out


# -- event log --------------------------------------------------------
@dataclass
class JobStats:
    job: int
    op: int | None
    submitted: float
    tasks: int = 0
    stages: set = field(default_factory=set)
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    task_times: dict = field(default_factory=dict)  # stage -> [task seconds]


def parse_event_log(log_dir: str, ops: list[Op]) -> dict[int, JobStats]:
    """Per-job stats from the (single, uncompressed) event log file."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    by_group = {f"perfbench-{o.index}": o.index for o in ops}
    starts = [o.start for o in ops]
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}

    def op_at(t: float) -> int | None:
        i = bisect.bisect_right(starts, t) - 1
        return ops[i].index if i >= 0 and t <= ops[i].end else None

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"] / 1000.0
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                op = by_group.get(group) if group else op_at(t)
                js = JobStats(ev["Job ID"], op, t)
                jobs[js.job] = js
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = js.job
            elif kind == "SparkListenerTaskEnd":
                js = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if js is None or not m:
                    continue
                info = ev["Task Info"]
                js.tasks += 1
                js.stages.add(ev["Stage ID"])
                js.run_s += m.get("Executor Run Time", 0) / 1e3
                js.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                js.gc_s += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                js.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                js.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                js.spill += m.get("Disk Bytes Spilled", 0)
                js.task_times.setdefault(ev["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1e3
                )
    return jobs


def worst_stage_skew(jobs: list[JobStats]) -> float | None:
    """max / median task time of the op's stage with the most task time."""
    stages = {}
    for js in jobs:
        stages.update(js.task_times)
    multi = [v for v in stages.values() if len(v) >= 2]
    if not multi:
        return None
    worst = max(multi, key=sum)
    med = statistics.median(worst)
    return max(worst) / med if med > 0 else None


# -- Python workers ---------------------------------------------------
_CLK = os.sysconf("SC_CLK_TCK")


def pyworker_cpu_s() -> float:
    """CPU seconds (own plus reaped children) of every ``pyspark.daemon``
    process descended from this one."""
    root_pid = os.getpid()
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15]) / _CLK  # utime stime cutime cstime
        procs[int(entry)] = (ppid, cpu, b"pyspark.daemon" in cmd or b"pyspark/daemon" in cmd)

    def descends(pid: int) -> bool:
        seen = 0
        while pid in procs and seen < 64:
            if pid == root_pid:
                return True
            pid, seen = procs[pid][0], seen + 1
        return pid == root_pid

    return sum(cpu for pid, (_, cpu, daemon) in procs.items() if daemon and descends(pid))
