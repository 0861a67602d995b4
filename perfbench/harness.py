"""Measurement plumbing shared by the perfbench workloads.

Everything here runs on the benchmark side of the library boundary:
span recording around public calls, the tail-percentile rule, self-time
arithmetic, Spark job/stage attribution read from the status store, and
process-tree RSS sampling from ``/proc``.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# layers, named after the library modules the benchmark calls into
LAYERS = ("session", "sources", "analyzer", "semiautocut", "operators",
          "photon", "traces", "llm.text", "llm.dedup", "llm.similarity",
          "streaming", "vibration")
LAYER_FIELDS = ("calls", "self_s", "jobs", "task_s", "shuffle_mb",
                "spill_mb", "failed")


# ----------------------------------------------------------------------
# statistics
# ----------------------------------------------------------------------
def tail_percentile(samples, min_beyond: int = 10):
    """Highest integer percentile that still has ``min_beyond`` samples
    above it, by the nearest-rank rule (the p-th percentile is the
    sample at rank ceil(p/100 * n)).

    Returns ``(value, percentile, n_beyond)``. When even the 50th
    percentile has fewer than ``min_beyond`` samples above it (fewer
    than 2 * ``min_beyond`` samples), no percentile qualifies and the
    maximum is returned as ``(max, 100, 0)``, so the tail still moves
    apart from the median.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail_percentile of no samples")
    best = None
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= min_beyond:
            best = (xs[rank - 1], p, n - rank)
            break
    return best if best is not None else (xs[-1], 100, 0)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent, overlaps between children counted once)."""
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.sid, ()))
        out[s.sid] = (s.end - s.start) - covered
    return out


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# ----------------------------------------------------------------------
# spans
# ----------------------------------------------------------------------
@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    pass_no: int = -1
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. When ``enabled``, every span also sets a
    Spark job group, so the jobs it launches can be attributed to it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.pass_no = -1

    def bind(self, sc) -> None:
        self._sc = sc

    def group(self, sid: int) -> str:
        return f"perfbench:{sid}"

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self.group(span.sid), span.name)

    def open(self, name: str, layer: str, op_id: int) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, layer, op_id, parent,
                  time.perf_counter(), pass_no=self.pass_no)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled:
            self._set_group(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        if self.enabled:
            self._set_group(self._stack[-1] if self._stack else None)

    def dump(self) -> list[dict]:
        return [dict(sid=s.sid, name=s.name, layer=s.layer, op=s.op_id,
                     parent=s.parent, start=s.start, end=s.end,
                     pass_no=s.pass_no, **s.attrs) for s in self.spans]


class span:
    """``with span(tracer, name, layer, op_id):`` — records always (the
    untraced run needs op latencies too); Spark job groups only when
    the tracer is enabled."""

    def __init__(self, tracer: Tracer, name: str, layer: str, op_id: int):
        self.t, self.args = tracer, (name, layer, op_id)
        self.sp: Span | None = None

    def __enter__(self) -> Span:
        self.sp = self.t.open(*self.args)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.t.close(self.sp)


# ----------------------------------------------------------------------
# Spark status store
# ----------------------------------------------------------------------
def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class StageInfo:
    sid: int
    status: str
    run_s: float
    shuffle_mb: float
    spill_mb: float
    peak_mem_mb: float
    start: float | None
    end: float | None


@dataclass
class JobInfo:
    jid: int
    group: str | None
    start: float | None
    end: float | None
    stages: list


class JobReader:
    """Reads every job launched since the last call from the status
    store (works with ``spark.ui.enabled=false``), starting from the
    session's first job. Called after each op, so retained-job/stage
    limits never evict what it needs."""

    def __init__(self, sc):
        self._store = sc._jsc.sc().statusStore()
        self._next = 0

    def skip_existing(self) -> None:
        while self._job(self._next) is not None:
            self._next += 1

    def _job(self, jid: int):
        try:
            return self._store.job(jid)
        except Exception:  # noqa: BLE001 — NoSuchElementException via py4j
            return None

    def _stage(self, sid: int) -> StageInfo | None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — evicted or never attempted
            return None
        return StageInfo(
            sid, st.status().toString(), st.executorRunTime() / 1000.0,
            (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6,
            (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6,
            st.peakExecutionMemory() / 1e6,
            _opt_ms(st.submissionTime()), _opt_ms(st.completionTime()))

    def new_jobs(self) -> list[JobInfo]:
        out = []
        while True:
            jd = self._job(self._next)
            if jd is None:
                break
            grp = jd.jobGroup()
            ids = jd.stageIds()
            stages = [self._stage(int(ids.apply(i)))
                      for i in range(ids.size())]
            out.append(JobInfo(self._next,
                               grp.get() if grp.isDefined() else None,
                               _opt_ms(jd.submissionTime()),
                               _opt_ms(jd.completionTime()),
                               [s for s in stages if s is not None]))
            self._next += 1
        return out


# ----------------------------------------------------------------------
# memory and host state from /proc
# ----------------------------------------------------------------------
def _name_rss_kb(pid: int) -> tuple[str, int]:
    name = ""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    return name, int(line.split()[1])
    except OSError:
        pass
    return name, 0


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants (driver, JVM, Python workers)."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s(pids=None) -> float:
    """CPU seconds (user + system, own and reaped children) used so far
    by this process and its descendants. Time the hypervisor steals is
    not in it, so it tracks the work done rather than the host's load."""
    total = 0
    for p in tree_pids(os.getpid()) if pids is None else pids:
        fields = _stat_fields(f"/proc/{p}/stat")
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def _comm(path: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


class JitClock:
    """CPU seconds the JVM's JIT compiler threads ("C1 CompilerThre",
    "C2 CompilerThre") have used. They compile in the background for
    minutes after start, by amounts that differ run to run. A thread the
    JVM retires keeps its last reading, so its time stays counted."""

    def __init__(self):
        self._java: dict = {}         # pid -> is a JVM
        self._jit: dict = {}          # (pid, tid) -> is a compiler thread
        self._last: dict = {}         # (pid, tid) -> CPU ticks last seen

    def read(self, pids) -> float:
        for p in pids:
            if p not in self._java:
                self._java[p] = _comm(f"/proc/{p}/comm") == "java"
            if not self._java[p]:
                continue
            try:
                tids = os.listdir(f"/proc/{p}/task")
            except OSError:
                continue
            for t in tids:
                key = (p, t)
                if key not in self._jit:
                    self._jit[key] = "CompilerThre" in _comm(
                        f"/proc/{p}/task/{t}/comm")
                if self._jit[key]:
                    fields = _stat_fields(f"/proc/{p}/task/{t}/stat")
                    if fields is not None:
                        self._last[key] = int(fields[11]) + int(fields[12])
        return sum(self._last.values()) / _CLK_TCK


class CpuClock:
    """Process-tree CPU time net of JIT compilation and of the
    benchmark's own ``/proc`` reading: the scans behind each reading
    and the RSS sampler's thread. A scan reads this process's counters
    part-way through, so between two readings the part of the first
    scan after that point is counted and the same part of the second is
    not; subtracting each scan once leaves the op's own CPU time."""

    def __init__(self):
        self.scan_s = 0.0
        self.jit = JitClock()
        self.jit_s = 0.0
        self.sampler: RssSampler | None = None

    def overhead_s(self) -> float:
        return self.scan_s + (self.sampler.cpu_s if self.sampler else 0.0)

    def read(self) -> float:
        t0 = time.thread_time()
        pids = tree_pids(os.getpid())
        total = tree_cpu_s(pids)
        self.jit_s = self.jit.read(pids)
        self.scan_s += time.thread_time() - t0
        return total - self.jit_s - self.overhead_s()


class RssSampler:
    """Background sampler of the process tree's summed RSS. ``cpu_s`` is
    the CPU time its own thread has spent reading ``/proc``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: dict = {}    # process name -> [count, kB] at peak
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        parts: dict = {}
        for p in tree_pids(os.getpid()):
            name, kb = _name_rss_kb(p)
            n_kb = parts.setdefault(name, [0, 0])
            n_kb[0] += 1
            n_kb[1] += kb
        kb = sum(v[1] for v in parts.values())
        if kb > self.peak_kb:
            self.peak_kb, self.peak_parts = kb, parts
        return kb

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            t0 = time.thread_time()
            self.sample()
            self.cpu_s += time.thread_time() - t0

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def process_age_s() -> float:
    """Seconds since this process started (``/proc``, tick resolution)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start / _CLK_TCK


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """CPU steal share between two ``cpu_times`` readings, over the
    first 8 ``/proc/stat`` fields."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d)
    return 100.0 * d[7] / total if total else 0.0
