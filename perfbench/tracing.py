"""Measurement plumbing: process-tree CPU/RSS, spans around engine calls,
and the fold of a Spark event log into per-span job/task counters.

Spans are recorded from outside the engine: ``Tracer.wrap`` replaces a
module attribute (or a ``STEPS`` entry) with a wrapper that times the
call and sets the Spark job description to the span, so every job and
task the call starts is attributed to it in the event log.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _HZ


def tree_pids(root: int) -> list[int]:
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int) -> dict[int, tuple[float, int, str]]:
    """pid -> (CPU seconds incl. reaped children, RSS bytes, command name)
    for ``root`` and its descendants: the driver Python, the JVM and Python
    workers.  One read of /proc/<pid>/stat keeps the three consistent."""
    usage = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat.rsplit(")", 1)[1].split()
        cpu = sum(int(x) for x in fields[11:15]) / _HZ  # utime stime cutime cstime
        usage[pid] = (cpu, int(fields[21]) * _PAGE, comm)
    return usage


def cpu_delta(before: dict, after: dict) -> float:
    return sum(u[0] - before[pid][0] if pid in before else u[0] for pid, u in after.items())


class PeakRss:
    """Background sampler of the summed RSS of the process tree, split into
    the JVM and the Python processes (driver and workers).  Samples only
    while ``active`` is set, so the benchmark's own checks are left out."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root, self.interval = root, interval
        self.active = False
        self.peak = {"jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = {"jvm": 0, "python": 0}
        for _, rss, comm in tree_usage(self.root).values():
            # Other commands are short-lived helpers the JVM spawns (chmod);
            # between fork and exec they show the JVM's pages, so skip them.
            if comm == "java":
                total["jvm"] += rss
            elif comm.startswith("python"):
                total["python"] += rss
        for kind, v in total.items():
            self.peak[kind] = max(self.peak[kind], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active:
                self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


DESC_PREFIX = "perfbench"


@dataclass
class Tracer:
    """In-memory span recorder.  Wrappers are no-ops while ``enabled`` is
    false, so one installed tracer serves traced and untraced passes."""

    spark: object
    enabled: bool = False
    pass_id: int = -1
    spans: list[Span] = field(default_factory=list)
    results: dict = field(default_factory=dict)
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)

    def _describe(self, span: Span | None) -> None:
        desc = None if span is None else f"{DESC_PREFIX}|{span.pass_id}|{span.sid}|{span.name}"
        self.spark.sparkContext.setJobDescription(desc)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.sid if parent else None,
                 self.pass_id, time.perf_counter())
        self._stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            self._describe(parent)

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if self.enabled:
                self.results[name] = out
            return out

        traced.__wrapped__ = fn
        return traced

    def pass_spans(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover
    (children of one parent run sequentially here, so they do not overlap)."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    return {s.sid: s.dur - child[s.sid] for s in spans}


@dataclass
class JobCounters:
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_rows: int = 0

    def add(self, other: "JobCounters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def fold_event_log(path: str) -> dict[tuple[int, int], JobCounters]:
    """(pass id, span id) -> counters of the jobs and tasks whose job
    description that span set.  Jobs without a benchmark description
    (untraced passes, checks) are left out."""
    stage_key: dict[tuple[int, int], tuple[int, int]] = {}
    out: dict[tuple[int, int], JobCounters] = defaultdict(JobCounters)

    def key_of(props: dict) -> tuple[int, int] | None:
        desc = (props or {}).get("spark.job.description") or ""
        parts = desc.split("|")
        if len(parts) != 4 or parts[0] != DESC_PREFIX:
            return None
        return int(parts[1]), int(parts[2])

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                k = key_of(ev.get("Properties"))
                if k is not None:
                    out[k].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                k = key_of(ev.get("Properties"))
                info = ev["Stage Info"]
                if k is not None:
                    stage_key[(info["Stage ID"], info["Stage Attempt ID"])] = k
            elif kind == "SparkListenerTaskEnd":
                k = stage_key.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                m = ev.get("Task Metrics")
                if k is None or not m:
                    continue
                c = out[k]
                c.tasks += 1
                c.run_ms += m.get("Executor Run Time", 0)
                c.cpu_ns += m.get("Executor CPU Time", 0)
                c.gc_ms += m.get("JVM GC Time", 0)
                c.spill_b += m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics", {})
                c.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                c.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                im = m.get("Input Metrics", {})
                c.input_rows += im.get("Records Read", 0)
    return dict(out)


def planning_ms(df) -> float:
    """Analysis + optimization + physical planning time of ``df``'s query
    execution, read from Spark's query-planning tracker (a private API:
    returns 0.0 when it is not reachable).  Forces the plan if needed."""
    try:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0.0
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                total += float(opt.get().durationMs())
        return total
    except Exception:  # noqa: BLE001 — private JVM API; absent on some builds
        return 0.0
