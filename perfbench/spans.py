"""Spans around the program's layer calls, recorded from outside the program.

``Tracer.install`` replaces every public function of each layer module with a
wrapper that records a span (layer, function, query, start, end, parent) and
tags the Spark jobs launched inside it with a job group
``<workload>:<query>:<layer.fn>#<span id>``. The wrapper is bound in the
defining module and under every name another module of the package bound at
import time (``from .operators.dedup import ...``), so direct and
function-local imports both reach it. ``uninstall`` restores the originals.

Spans stay in memory; the caller turns them into metrics after the timed
region. The arithmetic (self time, job attribution, driver-idle share) is
plain functions over plain data so the tests can pin it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

# Layer name -> module that defines it, relative to the package.
LAYERS = {
    "sources": "sources.readers",
    "plans.text_pipeline": "plans.text_pipeline",
    "plans.p1": "plans.p1",
    "plans.p2": "plans.p2",
    "operators.joins": "operators.joins",
    "operators.dedup": "operators.dedup",
    "operators.similarity": "operators.similarity",
}


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    query: str
    start: float  # time.time() seconds, the clock Spark stamps jobs with
    end: float = 0.0
    thread: int = 0
    extra: dict = field(default_factory=dict)


class Tracer:
    """Records spans for one workload; one instance per traced run."""

    def __init__(self, sc, workload: str, package: str):
        self._sc = sc
        self.workload = workload
        self._package = package
        self.spans: list[Span] = []
        self.query = ""
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main_thread = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main_thread:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, layer: str, name: str) -> Span:
        stack = self._stack()
        # A span opened on a pool thread hangs under the main thread's
        # innermost open span: that call submitted the pool's work.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(len(self.spans), parent.id if parent else None, layer, name,
                        self.query, time.time(), thread=threading.get_ident())
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        if stack:
            self._set_group(stack[-1])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def _set_group(self, span: Span) -> None:
        fn = span.layer if span.name == span.query else f"{span.layer}.{span.name}"
        tag = f"{self.workload}:{span.query}:{fn}#{span.id}"
        self._sc.setJobGroup(tag, tag)

    def wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.begin(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return traced

    # -- patching ----------------------------------------------------------

    def install(self) -> None:
        """Wrap the public functions of every layer module."""
        originals: dict[int, tuple[object, object]] = {}
        for layer, rel in LAYERS.items():
            mod = importlib.import_module(f"{self._package}.{rel}")
            for attr, obj in vars(mod).items():
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                    and not attr.startswith("_")
                    and not hasattr(obj, "evalType")  # UDFs, which only make Column expressions
                ):
                    originals[id(obj)] = (obj, self.wrap(obj, layer))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(self._package):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, obj))

    def uninstall(self) -> None:
        for mod, attr, obj in reversed(self._patched):
            setattr(mod, attr, obj)
        self._patched.clear()


# -- arithmetic over finished spans ----------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def attribute_job(spans: list[Span], group: str | None, submitted: float) -> Span | None:
    """The span a Spark job belongs to: the one its job group names, else the
    innermost span open when it was submitted (jobs from pool threads carry
    no group)."""
    if group and "#" in group:
        try:
            return spans[int(group.rsplit("#", 1)[1])]
        except (ValueError, IndexError):
            pass
    best = None
    for s in spans:
        if s.start <= submitted <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def driver_idle_share(executor_run_s: float, wall_s: float, cores: int) -> float:
    """1 - executor busy time / (wall x cores): the share of the cores' time
    the executors sat idle while the driver worked."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return 1.0 - executor_run_s / (wall_s * cores)
