"""In-memory span tracing around calls into the engine's layers.

Spans are recorded only from the benchmark's side of each call: the
benchmark either opens a span around its own call into a layer, or —
in traced runs only — ``Instrumentation`` replaces public functions
of the engine's modules (and every ``from x import f`` binding of them
in other engine modules) with wrappers that open a span.  Nothing in
the engine changes; ``Instrumentation.undo`` restores every attribute.

A span's self time is its duration minus the part of its interval
that its child spans cover.  Spans stay in memory and are written as
JSON when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "poet_cloud_cost_etl_spark"


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        """``catalog.table`` → ``catalog``; ``sources.sinks.x`` → ``sources``."""
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    clock: object = time.perf_counter
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    op: int | None = None
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), self._stack[-1] if self._stack else None, name, self.op, 0.0)
        self.spans.append(sp)
        self._stack.append(sp.sid)
        sp.start = self.clock()
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()

    def count(self, name: str, value: float = 1) -> None:
        self.counts[name] += value

    def self_times(self) -> dict[int, float]:
        """Self time of every span: duration minus the union of its
        children's intervals clipped to it."""
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        out = {}
        for sp in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children[sp.sid], key=lambda c: c.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if e <= s:
                    continue
                if cur_end is None or s > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = s, e
                else:
                    cur_end = max(cur_end, e)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[sp.sid] = (sp.end - sp.start) - covered
        return out

    def table(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total ms and self ms."""
        selfs = self.self_times()
        rows: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "ms": 0.0, "self_ms": 0.0})
        for sp in self.spans:
            r = rows[sp.name]
            r["calls"] += 1
            r["ms"] += (sp.end - sp.start) * 1e3
            r["self_ms"] += selfs[sp.sid] * 1e3
        return dict(rows)

    def layer_self_ms(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Self time per layer over ``spans`` (default: all spans)."""
        selfs = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans if spans is None else spans:
            out[sp.layer] += selfs[sp.sid] * 1e3
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        doc = {
            **extra,
            "self_time_by_layer_ms": self.layer_self_ms(),
            "by_name": self.table(),
            "counts": dict(self.counts),
            "spans": [
                [sp.sid, sp.parent, sp.name, sp.op, round(sp.start, 6), round(sp.end, 6)]
                for sp in self.spans
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f)


def layer_of(module: str) -> str:
    """``poet_cloud_cost_etl_spark.sources.sinks`` → ``sources.sinks``."""
    return module[len(PACKAGE) + 1:] if module.startswith(PACKAGE + ".") else module


class Instrumentation:
    """Wrap every public engine function, in every engine module that
    binds it, with a span named ``<layer>.<function>``.  ``renames``
    gives chosen span names for (binding module, function) pairs."""

    def __init__(
        self,
        tracer: Tracer,
        renames: dict[tuple[str, str], str] | None = None,
        observers: dict[str, object] | None = None,
    ):
        self.tracer = tracer
        self.renames = renames or {}
        # span name -> callable(tracer, args, result) run after each call
        self.observers = observers or {}
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, fn, name: str):
        tracer = self.tracer
        observe = self.observers.get(name)

        # functools.wraps keeps __module__/__qualname__, so cloudpickle
        # still pickles a wrapped function by reference, not by value.
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if observe is not None:
                observe(tracer, args, result)
            return result

        return wrapper

    def install(self) -> int:
        wrapped: dict[tuple[int, str], object] = {}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            binder = layer_of(mod_name)
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                home = getattr(fn, "__module__", "") or ""
                if not home.startswith(PACKAGE + "."):
                    continue
                name = self.renames.get((binder, attr), f"{layer_of(home)}.{fn.__name__}")
                key = (id(fn), name)
                if key not in wrapped:
                    wrapped[key] = self._wrap(fn, name)
                self._undo.append((mod, attr, fn))
                setattr(mod, attr, wrapped[key])
        return len(self._undo)

    def undo(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()


class SparkJobCounter:
    """Jobs, stages and tasks of one operation, read from the status
    tracker for the job group the operation ran under."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def begin(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)

    def end(self, group: str) -> tuple[int, int, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        # task-end events reach the status store through the listener
        # bus; drain it so the counts are complete
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return len(jobs), stages, tasks
