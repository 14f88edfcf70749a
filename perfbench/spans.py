"""Span recorder and Spark status-store probe for the traced run.

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a public function of a package module with a wrapper that
records one span per call, and :meth:`Tracer.unwrap_all` puts the
original back, so an untraced pass runs the package untouched.  Spans
stay in memory (a list of :class:`Span`) until the run writes them
out at the end.

Each span has a name, a layer, start and end (``time.perf_counter``),
its parent span and the op it belongs to.  Spans of one op share the
op id.  A call made on a worker thread (``JobRegistry.run_all`` runs
independent jobs on a thread pool) has no parent on its own thread
and is parented to the innermost span open on the op's thread -- the
call that handed the work to the pool.

:func:`self_times` splits an op's wall time among layers: every
instant of the op goes to the innermost spans active at that instant,
shared equally when several run at once, so the per-layer self times
of an op add up to its wall time exactly.

:class:`SparkProbe` reads what Spark itself recorded for an op from
the in-process status stores (no UI, no HTTP): jobs, stages, tasks and
their failures, the time no job was running (driver-only time), and a
rollup of the SQL plan-node metrics into scan, exchange and Python
nodes.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    epoch: float = field(default_factory=time.time)
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``enabled``; otherwise :meth:`span` is a
    no-op context and nothing is wrapped."""

    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._layers: dict[int, str] = {}
        self.op_id: int | None = None
        self._op_stack: list[int] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:  # a pool thread: the op thread's innermost span
            parent = self._op_stack[-1] if self._op_stack else None
        s = Span(next(self._ids), name, layer, self.op_id, parent,
                 time.perf_counter(),
                 attrs=dict(attrs, parent_layer=self._layers.get(parent)))
        self._layers[s.id] = layer
        stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def op(self, op_id: int, name: str):
        """The root span of one op; every span opened inside it, on any
        thread, carries ``op_id``."""
        if not self.enabled:
            yield None
            return
        self.op_id = op_id
        self._op_stack = self._stack()
        try:
            with self.span(name, "harness") as root:
                yield root
        finally:
            self._op_stack = []
            self.op_id = None

    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``after(span, args, kwargs, result)`` runs once the call has
        returned, outside the span, to attach counters."""
        orig = getattr(owner, attr)
        label = name or f"{layer}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(label, layer) as s:
                result = orig(*args, **kwargs)
            if after is not None:
                after(s, args, kwargs, result)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def of_op(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op == op_id]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time of one op's spans (see module docstring).
    The values sum to the duration of the outermost span."""
    if not spans:
        return {}
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    edges = sorted({t for s in spans for t in (s.start, s.end)})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(edges, edges[1:]):
        active = [s for s in spans if s.start <= a and s.end >= b]
        leaves = [s for s in active
                  if not any(c.start <= a and c.end >= b
                             for c in children.get(s.id, ()))]
        for s in leaves:
            out[s.layer] += (b - a) / len(leaves)
    return dict(out)


def critical_path(durations: dict[str, float],
                  deps: dict[str, list[str]]) -> float:
    """Busy time of the slowest chain of dependent jobs."""
    memo: dict[str, float] = {}

    def finish(j: str) -> float:
        if j not in memo:
            memo[j] = durations.get(j, 0.0) + max(
                (finish(d) for d in deps.get(j, ()) if d in durations),
                default=0.0)
        return memo[j]

    return max((finish(j) for j in durations), default=0.0)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """Parse a status-store metric string to bytes, seconds or a
    count.  Multi-task values read ``total (min, med, max ...)\\n<total>
    (<min>, ...)``; the total is the first value of the last line."""
    if not text:
        return 0.0
    m = _VALUE.search(text.strip().splitlines()[-1])
    if m is None:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


PYTHON_TIME_METRICS = ("time to run Python workers",
                       "time to start Python workers",
                       "time to initialize Python workers")


class SparkProbe:
    """Reads the jobs and SQL executions that ran since the previous
    :meth:`mark`.  Ops run one at a time from one client, so every job
    with an id in ``[mark, now)`` belongs to the op in between."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = 0
        self._skip_executions()

    def _skip_executions(self) -> None:
        while not self._sql.execution(self._next_exec).isEmpty():
            self._next_exec += 1

    def mark(self) -> tuple[int, int]:
        self._drain()
        self._skip_executions()
        return self._sc.dagScheduler().nextJobId(), self._next_exec

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def collect(self, since: tuple[int, int]) -> dict:
        self._drain()
        first_job, first_exec = since
        last_job = self._sc.dagScheduler().nextJobId()
        store = self._sc.statusStore()
        out = defaultdict(float)
        intervals = []
        for j in range(first_job, last_job):
            try:
                jd = store.job(j)
            except Exception:  # noqa: BLE001 -- NoSuchElement: evicted
                continue
            out["spark.jobs"] += 1
            out["spark.stages"] += (jd.numCompletedStages()
                                    + jd.numFailedStages())
            out["spark.tasks"] += jd.numCompletedTasks() + jd.numFailedTasks()
            out["spark.tasks_failed"] += jd.numFailedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
        out["job_busy_s"] = union_length(intervals)
        e = first_exec
        while not self._sql.execution(e).isEmpty():
            self._rollup(e, out)
            e += 1
        self._next_exec = e
        return dict(out)

    def _rollup(self, exec_id: int, out: dict) -> None:
        values = self._sql.executionMetrics(exec_id)
        nodes = self._sql.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            metrics = node.metrics()
            got = {}
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                got[m.name()] = v.get() if v.isDefined() else None
            if name.startswith("Scan") or name.startswith("BatchScan"):
                out["engine.scan_s"] += parse_metric(got.get("scan time"))
                out["engine.bytes_read"] += parse_metric(
                    got.get("size of files read"))
                out["engine.files_read"] += parse_metric(
                    got.get("number of files read"))
            elif name == "Exchange":
                out["engine.exchanges"] += 1
                out["engine.shuffle_bytes"] += parse_metric(
                    got.get("shuffle bytes written"))
            out["engine.python_s"] += sum(
                parse_metric(got.get(k)) for k in PYTHON_TIME_METRICS)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
