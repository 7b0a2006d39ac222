"""Layer tracing from outside the engine, plus the driver-process RSS gauge.

Two sources, neither of which changes an engine file:

- ``Spans`` wraps public entry points of engine modules (and the
  benchmark's own operations) and records wall-clock spans in memory.
- ``SqlExecutions`` reads Spark's SQL status store — it is populated even
  with ``spark.ui.enabled=false`` — for the per-operator metrics of every
  execution, and attributes each execution to the innermost span that was
  open when it was submitted.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from dataclasses import dataclass, field

#: SQL metric value units, normalised to milliseconds and bytes
_UNIT = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


_NUMBER = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """First number of a status-store metric string, which is the total.

    Values read either ``'16,000'`` / ``'5 ms'`` / ``'1372.0 KiB'`` or, for
    per-task metrics, a ``'total (min, med, max ...)'`` header line and then
    ``'2.5 s (4 ms, ...)'``.
    """
    if not text:
        return 0.0
    m = _NUMBER.search(text.split("\n", 1)[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    result: object = None
    executions: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1e3


class Spans:
    """In-memory spans around calls into the engine's modules."""

    def __init__(self):
        self.spans: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def record(self, name: str, fn, *args, **kwargs):
        span = Span(name, time.time() * 1e3)
        self.spans.append(span)
        try:
            span.result = fn(*args, **kwargs)
            return span.result
        finally:
            span.end_ms = time.time() * 1e3

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a recording wrapper until ``restore``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.record(name, original, *args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, tuple[int, float]]  # metric name -> (accumulator id, value)


class SqlExecutions:
    """Per-operator SQL metrics of the executions submitted after a mark."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()

    def attribute(self, spans: Spans, since_ms: float, timeout_s: float = 60.0) -> None:
        """Attach every execution submitted since ``since_ms`` to the
        innermost span open at its submission.  Waits for the (asynchronous)
        listener bus to mark each of them complete first."""
        deadline = time.time() + timeout_s
        while True:
            pending, done = [], []
            it = self.store.executionsList().iterator()
            while it.hasNext():
                e = it.next()
                if e.submissionTime() >= since_ms:
                    (done if e.completionTime().isDefined() else pending).append(e)
            if not pending or time.time() > deadline:
                break
            time.sleep(0.1)
        for e in done:
            t = e.submissionTime()
            owners = [s for s in spans.spans if s.start_ms <= t <= s.end_ms]
            if owners:
                inner = min(owners, key=lambda s: s.end_ms - s.start_ms)
                inner.executions.append(self._nodes(e.executionId()))

    def _nodes(self, execution_id: int) -> list[Node]:
        values = self.store.executionMetrics(execution_id)
        out = []
        it = self.store.planGraph(execution_id).allNodes().iterator()
        while it.hasNext():
            nd = it.next()
            metrics = {}
            mit = nd.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                acc = m.accumulatorId()
                v = values.get(acc)
                metrics[m.name()] = (acc, parse_metric(v.get() if v.isDefined() else None))
            out.append(Node(nd.name(), nd.desc(), metrics))
        return out


def executions_of(spans: list[Span], deep: list[Span] = ()) -> list[list[Node]]:
    """Executions owned by ``spans`` and by the nested ``deep`` spans that
    fall inside one of them."""
    inner = [d for d in deep for s in spans if s.start_ms <= d.start_ms and d.end_ms <= s.end_ms]
    return [ex for s in [*spans, *inner] for ex in s.executions]


def metric_sum(executions: list[list[Node]], metric: str, pick=lambda n: True) -> float:
    """Sum of one metric over the picked nodes, each accumulator once (a
    cached plan shows its nodes again under every scan of the cache)."""
    seen: dict[int, float] = {}
    for nodes in executions:
        for n in nodes:
            if metric in n.metrics and pick(n):
                acc, v = n.metrics[metric]
                seen[acc] = v
    return sum(seen.values())


def node_count(executions: list[list[Node]], pick) -> int:
    return sum(1 for nodes in executions for n in nodes if pick(n))


def is_python(n: Node) -> bool:
    return "Python" in n.name or "Pandas" in n.name or "InArrow" in n.name


def is_aggregate(n: Node) -> bool:
    return n.name.endswith("Aggregate")


class PeakRss(threading.Thread):
    """Samples the summed RSS of a process and all its descendants."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        super().__init__(daemon=True)
        self.root = root_pid
        self.interval = interval_s
        self.peak_bytes = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._done.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._done.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._done.set()
        self.join()
        return self.peak_bytes / 1024.0**2

    def sample(self) -> int:
        total = 0
        for pid in [self.root, *descendants(self.root)]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (FileNotFoundError, ProcessLookupError, IndexError):
                pass  # exited between listing and reading
        return total


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
