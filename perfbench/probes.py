"""Measurement probes: machine sizing, the driver's /proc process tree,
the Spark status store keyed by job group, and an in-memory span
tracer.

Spark's ``executorCpuTime`` counts JVM threads only, so CPU is read
from /proc for three parts of the tree: the driver (this process), the
JVM it launched, and the Python workers below the JVM.  The JVM's JIT
compiler and garbage collector threads are also read on their own:
how much they run during one job depends on how far warm-up and
concurrent marking have got, not only on the job.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024
# HotSpot's service threads by name prefix, as /proc truncates names
SERVICE_THREADS = {"jit": ("C1 CompilerThre", "C2 CompilerThre"),
                   "gc": ("GC Thread", "G1 ")}


@dataclass(frozen=True)
class Machine:
    cores: int
    mem_mb: int

    @staticmethod
    def detect() -> "Machine":
        """Cores from the scheduler affinity mask (what ``nproc``
        reports), memory from ``sysconf``."""
        mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        return Machine(len(os.sched_getaffinity(0)), mem // MB)

    @property
    def driver_memory(self) -> str:
        """JVM heap: a quarter of RAM, 1-8 GiB.  Local mode runs every
        task in this one heap, and the box may be shared."""
        return f"{min(max(self.mem_mb // 4, 1024), 8192)}m"


def _stat(pid: int, task: str = "") -> tuple[int, float] | None:
    """(ppid, utime + stime in seconds) of one process, or of one of
    its threads (``task`` = "task/<tid>/")."""
    try:
        with open(f"/proc/{pid}/{task}stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2:].split()
    # after the command name: [1] ppid, [11] utime, [12] stime
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK


def _status_mb(pid: int, key: str) -> float:
    """``VmHWM`` (peak) or ``VmRSS`` (current) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class SpeedProbe:
    """Host speed while jobs run: every ``period`` seconds a thread runs
    a fixed pure-Python loop and records the CPU seconds it took.  On a
    shared host a vCPU's speed moved by half within minutes, and the
    CPU seconds of a job with it; dividing by this cost removes most of
    that.  The probe's own CPU is kept apart from the driver's."""

    LOOP = 20_000  # about 2 ms of CPU

    def __init__(self, period: float = 0.05) -> None:
        self.samples: list[tuple[float, float]] = []
        self.cpu = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(period,),
                                        daemon=True)
        self._thread.start()

    def _run(self, period: float) -> None:
        while not self._stop.wait(period):
            t0 = time.thread_time()
            x = 0
            for i in range(self.LOOP):
                x = (x * 31 + i) & 0xFFFFFFFF
            c = time.thread_time() - t0
            self.samples.append((time.perf_counter(), c))
            self.cpu += c

    def cost_ms(self, t0: float, t1: float) -> float:
        """Mean milliseconds of one loop between two ``perf_counter``
        readings."""
        xs = [c for t, c in self.samples if t0 <= t <= t1]
        return 1000 * sum(xs) / len(xs) if xs else float("nan")

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class ProcTree:
    """CPU and peak RSS of the driver, the JVM and the JVM's Python
    workers.

    PySpark's worker daemon ignores SIGCHLD, so an exited worker's CPU
    reaches no parent's cutime.  A background thread therefore scans
    the tree every ``period`` seconds and keeps each vanished process's
    last reading; at most one period of a worker's CPU is lost."""

    def __init__(self, speed: SpeedProbe, period: float = 0.2) -> None:
        self.pid = os.getpid()
        self.speed = speed
        self._lock = threading.Lock()
        # one scan at a time: the thread-name cache is rebuilt by each
        self._scan_lock = threading.Lock()
        self._last: dict = {}
        self._gone = {"jvm": 0.0, "py": 0.0, "jit": 0.0, "gc": 0.0}
        self._py_rss_peak = 0.0
        self._names: dict[tuple[int, str], str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(period,),
                                        daemon=True)
        self._thread.start()

    def _run(self, period: float) -> None:
        while not self._stop.wait(period):
            self._scan()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @staticmethod
    def _procs() -> dict[int, tuple[int, float]]:
        out = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st:
                    out[int(name)] = st
        return out

    def descendants(self) -> list[int]:
        procs = self._procs()
        return _below(self.pid, {p: pp for p, (pp, _) in procs.items()})

    def _scan(self) -> dict[str, float]:
        with self._scan_lock:
            return self._scan_locked()

    def _scan_locked(self) -> dict[str, float]:
        procs = self._procs()
        parent = {p: pp for p, (pp, _) in procs.items()}
        live: dict = {}
        for j in (p for p, pp in parent.items() if pp == self.pid):
            live[j] = ("jvm", procs[j][1])
            live.update(self._service_threads(j))
            for w in _below(j, parent):
                live[w] = ("py", procs[w][1])
        with self._lock:
            for pid, (role, cpu) in self._last.items():
                if pid not in live:
                    self._gone[role] += cpu
            self._last = live
            self._py_rss_peak = max(self._py_rss_peak, sum(
                _status_mb(p, "VmRSS:") for p, (role, _) in live.items()
                if role == "py"))
            out = dict(self._gone)
            for role, cpu in live.values():
                out[role] += cpu
        return out

    def _service_threads(self, jvm: int) -> dict:
        """{(jvm, tid): (role, cpu)} of the JVM's JIT and GC threads.
        HotSpot stops idle compiler threads, so the scan keeps their
        last reading like that of an exited process."""
        try:
            tids = os.listdir(f"/proc/{jvm}/task")
        except OSError:
            return {}
        out = {}
        for tid in tids:
            key = (jvm, tid)
            name = self._names.get(key)
            if name is None or name == "java":  # not named yet
                try:
                    with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                        name = self._names[key] = f.read()
                except OSError:
                    continue
            for role, prefixes in SERVICE_THREADS.items():
                if name.startswith(prefixes):
                    st = _stat(jvm, f"task/{tid}/")
                    if st:
                        out[key] = (role, st[1])
        live = set(tids)
        self._names = {k: v for k, v in self._names.items()
                       if k[0] != jvm or k[1] in live}
        return out

    def sample(self) -> dict[str, float]:
        """Cumulative CPU seconds: driver, jvm, py (workers); jit and
        gc are the parts of jvm spent by its compiler and collector
        threads."""
        t = os.times()
        return {"driver": t.user + t.system - self.speed.cpu, **self._scan()}

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver, plus that of the JVM, plus the
        largest total RSS of the Python workers seen at one scan."""
        self._scan()
        with self._lock:
            jvm = [p for p, (role, _) in self._last.items() if role == "jvm"]
            workers = self._py_rss_peak
        return (_status_mb(self.pid, "VmHWM:")
                + sum(_status_mb(p, "VmHWM:") for p in jvm) + workers)


def _below(root: int, parent: dict[int, int]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, pp in parent.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def cpu_total(d: dict[str, float]) -> float:
    """CPU seconds of the whole tree in a ``cpu_delta``."""
    return d["driver"] + d["jvm"] + d["py"]


def cpu_work(d: dict[str, float]) -> float:
    """CPU seconds of the tree in a ``cpu_delta`` less the JVM's
    compiler and collector threads."""
    return cpu_total(d) - d["jit"] - d["gc"]


class StatusStore:
    """Stage metrics summed over the jobs of one job group, read from
    Spark's status store (which exists with the UI disabled)."""

    FIELDS = ("executorCpuTime", "jvmGcTime", "shuffleWriteBytes",
              "diskBytesSpilled")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def group(self, group: str) -> dict[str, float]:
        # the store is fed asynchronously from the listener bus
        self._bus.waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        stages = set()
        jobs = tracker.getJobIdsForGroup(group)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = dict.fromkeys(self.FIELDS, 0.0)
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never registered
                continue
            for k in self.FIELDS:
                out[k] += float(getattr(sd, k)())
        return out


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans around layer calls.  Each span runs its Spark jobs under
    its own job group; a span's counts include its children's.  Spans
    stay in memory until ``dump``."""

    def __init__(self, spark, procs: ProcTree) -> None:
        self.store = StatusStore(spark)
        self.procs = procs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.run_id = ""

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs
        self.rows = 0

    def __enter__(self) -> "_SpanCtx":
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.s = Span(self.name, f"{t.run_id}/{next(t._ids)}",
                      parent.span_id if parent else None, t.run_id,
                      time.time(), attrs=dict(self.attrs))
        t._stack.append(self.s)
        t.store.set_group(self.s.span_id)
        self.cpu0 = t.procs.sample()
        return self

    def __exit__(self, *exc) -> None:
        t, s = self.t, self.s
        s.end = time.time()
        cpu = cpu_delta(self.cpu0, t.procs.sample())
        t._stack.pop()
        t.store.set_group(t._stack[-1].span_id if t._stack else None)
        st = t.store.group(s.span_id)
        for child in t.spans:
            if child.parent == s.span_id:
                for k in StatusStore.FIELDS:
                    st[k] += child.counts["_store"][k]
        s.counts = {"wall_s": s.end - s.start,
                    "jvm_cpu_s": st["executorCpuTime"] / 1e9,
                    "py_cpu_s": cpu["py"],
                    "gc_s": st["jvmGcTime"] / 1e3,
                    "shuffle_write_mb": st["shuffleWriteBytes"] / MB,
                    "spill_mb": st["diskBytesSpilled"] / MB,
                    "rows_out": float(self.rows),
                    "_store": st}
        t.spans.append(s)
