"""Measurement helpers: spans, Spark engine counters, process-tree memory,
percentiles and the run environment.

Spans are recorded from outside the program, around the calls the
benchmark makes into each layer, and kept in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

#: StageData fields summed per span, with the unit scale to the reported value
_STAGE_FIELDS = {
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "executor_run_s": ("executorRunTime", 1e-3),  # ms
    "executor_cpu_s": ("executorCpuTime", 1e-9),  # ns
    "gc_s": ("jvmGcTime", 1e-3),  # ms
}
COUNTERS = ("jobs", "stages", "tasks", *_STAGE_FIELDS)
RSS_INTERVAL_S = 0.2  # process-tree memory sampling period
RSS_MIN_AGE_S = 1.0  # younger processes are not sampled (see TreeRss)


class SparkCounters:
    """Engine counters read from the live status store (kept even with
    the UI disabled), as deltas since the previous snapshot."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._last_stage = self._last_job = -1
        self.delta()  # start from the session's current state

    def delta(self) -> dict[str, float]:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        default = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        out = dict.fromkeys(COUNTERS, 0.0)
        stages = store.stageList(None, *default)  # newest first
        top = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top = max(top, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            for key, (attr, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(s, attr)() * scale
        self._last_stage = top
        jobs = store.jobsList(None)
        top = self._last_job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self._last_job:
                break
            top = max(top, jid)
            out["jobs"] += 1
        self._last_job = top
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Stands in for a :class:`Tracer` in untraced runs."""

    enabled = False

    def span(self, name: str, count: bool = False):
        return contextlib.nullcontext()


class Tracer:
    """In-memory span recorder.  Spans opened with ``count=True`` carry the
    engine counter deltas of the work they enclose."""

    enabled = True

    def __init__(self, run_id: str, counters: SparkCounters) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counters = counters
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, count: bool = False):
        parent = self._stack[-1] if self._stack else None
        if count:
            self.counters.delta()
        sp = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if count:
                sp.counters = self.counters.delta()

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its direct children cover."""
        sp = self.spans[idx]
        children = sum(c.seconds for c in self.spans if c.parent == idx)
        return sp.seconds - children

    def last_self_time(self, name: str) -> float:
        return next(self.self_time(i) for i in reversed(range(len(self.spans)))
                    if self.spans[i].name == name)

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run_id": s.run_id, "self_s": self.self_time(i), "counters": s.counters}
            for i, s in enumerate(self.spans)
        ]


def process_start(pid: int | str = "self") -> float:
    """When a process started, in CLOCK_BOOTTIME seconds."""
    with open(f"/proc/{pid}/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return ticks / os.sysconf("SC_CLK_TCK")


class TreeRss:
    """Samples the resident memory of this process and all descendants
    (JVM, Python workers) in a background thread and keeps the peak sum.
    Proportional set sizes are summed, so pages a forked worker shares
    with its parent count once.  Processes younger than ``RSS_MIN_AGE_S``
    (probe subprocesses, the JVM's helper commands) are skipped: until it
    execs, a vforked child reports its parent's whole address space."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}  # process name -> bytes, at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_pss(self) -> dict[str, int]:
        parts: dict[str, int] = {}
        root = os.getpid()
        todo = [root]
        now = time.clock_gettime(time.CLOCK_BOOTTIME)
        while todo:
            pid = todo.pop()
            try:
                if pid != root and now - process_start(pid) < RSS_MIN_AGE_S:
                    continue
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(int(line.split()[1]) * 1024 for line in f if line.startswith("Pss:"))
                parts[name] = parts.get(name, 0) + pss
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except (OSError, ValueError, StopIteration):
                continue  # the process ended while being read
        return parts

    def _run(self) -> None:
        while not self._stop.is_set():
            parts = self._tree_pss()
            total = sum(parts.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_parts = total, parts
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> TreeRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) as ``statistics.quantiles(n=100)`` gives it."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Environment:
    """What a run ran on: code version, seed, cores, load and CPU steal."""

    def __init__(self, root: str, seed: int, cpus: int) -> None:
        self.root, self.seed, self.cpus = root, seed, cpus
        self._cpu0 = _cpu_times()

    def _commit(self) -> str | None:
        if not os.path.isdir(os.path.join(self.root, ".git")):
            return None  # an exported tree: the source digest identifies it
        try:
            out = subprocess.run(["git", "-C", self.root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
        except OSError:
            return None
        return out.stdout.strip() or None

    def _source_digest(self) -> str:
        h = hashlib.sha256()
        pkg = os.path.join(self.root, "video_metadata_db_spark")
        sources = sorted(os.path.join(d, f) for d, _, fs in os.walk(pkg) for f in fs if f.endswith(".py"))
        for path in sources:
            with open(path, "rb") as fh:
                h.update(os.path.relpath(path, pkg).encode() + fh.read())
        return h.hexdigest()[:16]

    def record(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        steal = delta[7] if len(delta) > 7 else 0
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {
            "commit": self._commit(),
            "source_sha256": self._source_digest(),
            "seed": self.seed,
            "nproc": self.cpus,
            "loadavg_1m": load1,
            "steal_pct": round(100.0 * steal / max(sum(delta), 1), 3),
        }
