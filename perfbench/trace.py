"""Spans recorded from the benchmark's side of each call into the package.

A :class:`Tracer` keeps spans in memory. :meth:`Tracer.span` also sets the
Spark job description to the span id for the span's duration, so every
job the call launches can be attributed to it from the event log.
:meth:`Tracer.patch` swaps a module-level name the package looks up at
call time for a wrapper that opens a span; :meth:`Tracer.close` puts the
originals back. :func:`codegen_counters` and :func:`steal_seconds` read the
JVM and host counters a traced iteration records on its root span;
:func:`cpu_seconds` reads the CPU time every iteration is charged.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

PKG = "jsonl_dataingestion_pipeline_spark"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(job_description(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(job_description(parent.id) if parent else None)

    def patch(self, module: str, attr: str, span_name: str, after=None) -> None:
        """Wrap ``<PKG>.<module>.<attr>``; ``after(span, result)`` may add
        attributes to the span once the call returns."""
        mod = importlib.import_module(f"{PKG}.{module}")
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(span_name) as s:
                out = orig(*args, **kwargs)
            if after is not None:
                after(s, out)
            return out

        setattr(mod, attr, wrapper)
        self._patched.append((mod, attr, orig))

    def close(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def steal_seconds() -> float:
    """CPU time the host has stolen from this machine, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """User and system CPU seconds of this process and every process under
    it (the Spark JVM, its threads and any Python workers), the reaped
    ones included. Time the host steals is not charged to any of them."""
    parent, ticks = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        # after the command: state, ppid, ..., utime, stime, cutime, cstime
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(map(int, fields[11:15]))
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(p for p, pp in parent.items() if pp == pid and p not in tree)
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, compile milliseconds) since the JVM started.

    The count is exact in ``CodegenMetrics``; its time histogram samples, so
    the time comes from ``CodeGenerator``'s running total instead."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e6


def job_description(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


def span_of_description(desc: str | None) -> int | None:
    prefix = job_description(0)[:-1]
    if desc and desc.startswith(prefix):
        return int(desc[len(prefix):])
    return None


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    kids = children(spans)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, ()))
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(spans: list[Span], s: Span) -> float:
    """The span's duration minus the part its child spans cover."""
    kids = children(spans).get(s.id, [])
    return s.dur - covered([(k.start, k.end) for k in kids], s.start, s.end)
