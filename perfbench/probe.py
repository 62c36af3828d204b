"""Measurement helpers that need no Spark: percentiles, spans and self
time, wrapping of a layer's public calls, the job/stage/task delta over
Spark's status tracker, and a process-tree RSS sampler over ``/proc``.
"""

from __future__ import annotations

import functools
import inspect
import math
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

# ------------------------------------------------------------ statistics


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the p-th percentile
    rank -- the support of a tail percentile."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def highest_supported_percentile(n: int) -> float | None:
    """Highest of p99/p95/p90/p75/p50 with at least 10 samples above it."""
    for p in (99, 95, 90, 75, 50):
        if samples_beyond(n, p) >= 10:
            return p
    return None


def gmean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


# ------------------------------------------------------------ spans


@dataclass
class Span:
    name: str       # "<layer>" or "<layer>:<call>"
    start: float
    end: float
    parent: int     # index into Tracer.spans, -1 for a root
    op: str | None  # the benchmark operation the span belongs to

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


@dataclass
class Tracer:
    """In-memory span recorder. Parents follow the calling thread's
    stack, so spans opened on Spark's foreachBatch callback threads nest
    correctly; appends are serialized by one lock."""

    spans: list = field(default_factory=list)
    op: str | None = None

    def __post_init__(self):
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        st = self._stack()
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), math.nan,
                                   st[-1] if st else -1, self.op))
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.begin(name)
                return self

            def __exit__(self, *exc):
                tracer.end(self.idx)
                return False

        return _Ctx()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: the duration of each span inside an operation
    minus the part of its interval covered by its direct children, summed
    by layer."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s.op is None:
            continue
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
    return out


def instrument(tracer: Tracer, layers: dict[str, list[str]],
               rebind_in: tuple[str, ...] = ()) -> int:
    """Wrap every public function and public-class method defined in each
    layer's modules with a span named ``<layer>:<call>``. Module-level
    names that other modules imported with ``from m import f`` are
    rebound too (modules whose name starts with one of ``rebind_in``).
    Returns the number of wrapped callables."""
    import importlib

    swaps: dict[int, object] = {}
    for layer, mods in layers.items():
        for modname in mods:
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    w = tracer.wrap(f"{layer}:{name}", obj)
                    setattr(mod, name, w)
                    swaps[id(obj)] = (obj, w)
                elif inspect.isclass(obj):
                    for mname, m in list(vars(obj).items()):
                        if not mname.startswith("_") and inspect.isfunction(m):
                            setattr(obj, mname,
                                    tracer.wrap(f"{layer}:{name}.{mname}", m))
                            swaps[id(m)] = (m, None)
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith(rebind_in):
            continue
        for name, obj in list(vars(mod).items()):
            hit = swaps.get(id(obj))
            if hit is not None and hit[0] is obj and hit[1] is not None:
                setattr(mod, name, hit[1])
    return len(swaps)


# ------------------------------------------------------------ Spark jobs


@dataclass
class JobDelta:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0


class JobCounter:
    """Jobs, stages and tasks Spark ran since the last call, read from the
    status tracker. Job ids are dense and increasing, so the new jobs
    are the ids after the last one seen, whatever their job group;
    operations run one at a time, so broadcast and subquery jobs with no
    group land on the operation that caused them. ``tracker`` needs
    ``getJobInfo(id)`` and ``getStageInfo(id)`` (pyspark's
    ``StatusTracker``); ``drain`` waits for the listener bus so the
    tracker has seen every finished job."""

    def __init__(self, tracker, drain):
        self.tracker, self.drain = tracker, drain
        self.next_id = 0
        self.take()

    def take(self) -> JobDelta:
        self.drain()
        d, stages = JobDelta(), set()
        while True:
            info = self.tracker.getJobInfo(self.next_id)
            if info is None:
                break
            self.next_id += 1
            d.jobs += 1
            stages.update(info.stageIds)
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            if st is None:
                continue
            ran = st.numCompletedTasks + st.numFailedTasks
            if ran > 0:
                d.stages += 1
                d.tasks += ran
                d.tasks_failed += st.numFailedTasks
        return d


# ------------------------------------------------------------ RSS

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root``."""
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """User + system clock ticks of ``pid`` and of its reaped children.
    With paravirtual steal accounting (as on KVM guests) the time the
    hypervisor gave to other guests is not in them."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            v = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in v[11:15])  # utime stime cutime cstime
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every live descendant
    (Python driver, JVM, Python workers; workers that exited count
    through their parent's reaped-children time)."""
    return sum(_cpu_ticks(p) for p in [root] + descendants(root)) / _TICK


def tree_rss(root: int) -> dict[str, int]:
    """RSS bytes of ``root``'s process tree split into the Python driver
    (``root`` itself), the JVM (``java`` processes) and the Python
    workers (every other descendant)."""
    out = {"py_driver": _rss_bytes(root), "jvm": 0, "py_workers": 0}
    for pid in descendants(root):
        out["jvm" if _comm(pid) == "java" else "py_workers"] += _rss_bytes(pid)
    return out


class RssSampler:
    """One background thread samples :func:`tree_rss` of this process
    every ``interval`` seconds between :meth:`start` and :meth:`stop` and
    keeps the peak of the total and of each part. Reads of the peaks take
    the lock."""

    def __init__(self, interval: float = 0.05, sample=tree_rss):
        self.root = os.getpid()
        self.interval, self._sample = interval, sample
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = None
        self.n = 0
        self.peak_total = 0
        self.peak = {"py_driver": 0, "jvm": 0, "py_workers": 0}

    def _record(self, parts: dict[str, int]) -> None:
        with self._lock:
            self.n += 1
            self.peak_total = max(self.peak_total, sum(parts.values()))
            for k, v in parts.items():
                self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._record(self._sample(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        if self._thread is not None:
            raise RuntimeError("sampler already started")
        self._thread = threading.Thread(target=self._run, name="rss-sampler",
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            if self._thread.is_alive():
                raise RuntimeError("rss sampler did not stop")
        self._record(self._sample(self.root))

    def peaks_mb(self) -> tuple[float, dict[str, float]]:
        with self._lock:
            return (self.peak_total / 2**20,
                    {k: v / 2**20 for k, v in self.peak.items()})
