"""Measurement primitives: summary statistics, spans, Spark job counts and
host state.  Imports nothing from the engine and starts nothing, so the
self-tests run without Spark."""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile of ``TAIL_LADDER`` that
    has at least ``beyond`` samples above it, by nearest rank.  ``None``
    when even the median has fewer than ``beyond`` samples above it."""
    s = sorted(xs)
    n = len(s)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(round(p * n / 100.0, 9)))
        if n - rank >= beyond:
            return p, float(s[rank - 1])
    return None


def summary(xs: list[float]) -> dict:
    """Median, tail (see :func:`tail`) and sample count of timings."""
    out: dict = {"n": len(xs)}
    if xs:
        out["p50"] = median(xs)
    t = tail(xs)
    if t is not None:
        out["tail_pct"], out["tail"] = t
    return out


# -- tracing ---------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        """``index.reader.idf`` → ``index.reader``; a dot-free name is
        its own layer."""
        return self.name.rsplit(".", 1)[0] if "." in self.name else self.name


class Tracer:
    """In-memory spans: name, start, end, parent and request id.

    A disabled tracer records nothing and :meth:`instrument` patches
    nothing, so an untraced run executes the same calls unwrapped."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.request: str | None = None

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield None
            return
        sp = Span(
            id=len(self.spans), name=name, start=time.perf_counter(),
            parent=self._stack[-1].id if self._stack else None,
            request=self.request, counts=dict(counts),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def request_scope(self, request_id: str, name: str = "request"):
        """Root span of one benchmark request; child spans carry its id."""
        self.request = request_id
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            self.request = None

    @contextmanager
    def instrument(self, owner, attr: str, name: str, counts=None, jobs: "JobCounter | None" = None):
        """Record a span around every call of ``owner.attr`` (a class
        method or a module function) while the block runs.  ``counts``
        maps the call's arguments to counts stored on the span; with
        ``jobs`` the call runs in its own Spark job group, whose id the
        span keeps so its job counts can be read after the run."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, **(counts(*args, **kwargs) if counts else {})) as sp:
                if jobs is None:
                    return orig(*args, **kwargs)
                outer = jobs.current
                sp.counts["group"] = jobs.start(name)
                try:
                    return orig(*args, **kwargs)
                finally:
                    jobs.resume(outer)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _union_length(kids.get(s.id, []))
        for s in spans
    }


def layer_self_times(spans: list[Span], root: str = "request") -> dict[str, float]:
    """Layer → summed self time of its spans inside ``root`` spans.  The
    values add up to the summed duration of the ``root`` spans, whose
    own self time is the part no layer span covers."""
    by_id = {s.id: s for s in spans}

    def under_root(s: Span) -> bool:
        while s is not None:
            if s.name == root:
                return True
            s = by_id.get(s.parent) if s.parent is not None else None
        return False

    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        if under_root(s):
            out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


def span_cost_s(n: int = 2000) -> float:
    """Seconds one enabled span costs its caller (enter + exit)."""
    tr = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            pass
    return (time.perf_counter() - t0) / n


# -- Spark job counts ------------------------------------------------------


class JobCounter:
    """Labels each timed call with its own Spark job group and reads that
    call's job, stage and task counts from ``statusTracker()``, and the
    bytes its tasks wrote from the status store."""

    def __init__(self):
        self.sc = None
        self.tracker = None
        self.current: str | None = None
        self.groups: list[str] = []

    def attach(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def start(self, label: str) -> str:
        gid = f"{label}-{len(self.groups)}"
        self.groups.append(gid)
        self.resume(gid)
        return gid

    def resume(self, gid: str | None) -> None:
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(gid, gid)
        self.current = gid

    def counts(self, gid: str) -> dict:
        """{"jobs", "stages", "tasks", "bytes_written"} of one group, read
        once the listener bus has delivered every event posted so far."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = stages = tasks = written = 0
        for j in self.tracker.getJobIdsForGroup(gid):
            info = self.tracker.getJobInfo(j)
            jobs += 1
            for sid in (info.stageIds if info is not None else ()):
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks
                written += int(store.lastStageAttempt(sid).outputBytes())
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "bytes_written": written}


# -- host ------------------------------------------------------------------


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_state() -> dict:
    """Cores, RAM, load1 and the CPU jiffies counters (total and stolen by
    the hypervisor) from which :func:`steal_share` derives contention."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {
        "cores": cores(),
        "ram_gb": round(mem_kb / 2**20, 2),
        "load1": os.getloadavg()[0],
        "jiffies": sum(cpu[:8]),
        "steal_jiffies": cpu[7] if len(cpu) > 7 else 0,
    }


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = end["jiffies"] - start["jiffies"]
    return (end["steal_jiffies"] - start["steal_jiffies"]) / total if total else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
