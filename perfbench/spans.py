"""Span tracing from outside the engine.

The tracer wraps the layers' public functions (the plan functions, the
``TableStore`` verbs, the dashboard-view registration and ``curate``'s
module-level stage calls) by replacing the module or class attribute
the engine looks up at call time. No engine code changes.

Each span runs under a Spark job group of its own, so the jobs a lazy
plan triggers are charged to the call that executed it. Spans are kept
in memory as (name, start, end, parent) and written out at the end.
The tracer also times its own bookkeeping inside the traced region
(``overhead_s``): that is what tracing adds to an operation.

Two span kinds exist:

- a *call* span covers one wrapped call;
- a *phase* span covers a stretch of its owner's body. A wrapped call
  marked ``phase=`` closes the owner's open phase and opens a new one
  that stays open after the call returns, until the next switch or the
  owner's exit. ``phase_after=`` switches once the call has returned.
  ``pipeline.run`` is divided this way into its bronze, silver, gold
  dims, gold fact and audit layers, and ``curate`` into its gate,
  dedup, sampling and packing stages. Phases of one owner never
  overlap, so each layer's time is the part of the run it spans.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark import SparkContext

# jobs outside every timed region (checks, digests, bookkeeping)
IDLE_GROUP = "perfbench-idle"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    kind: str  # "call" | "phase"
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    def __init__(self, sc: SparkContext):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.deferred: list = []  # callables run after the timed region
        self.overhead_s = 0.0

    # ------------------------------------------------------------ spans
    def _open(self, name: str, kind: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, parent, kind, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._sc.setJobGroup(span.group, name)
        return span

    def _close(self, span: Span) -> None:
        while self._stack and self._stack[-1] is not span:
            self._close(self._stack[-1])  # an owner's open phase
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self._sc.setJobGroup(top.group, top.name)
        else:
            self._sc.setJobGroup(IDLE_GROUP, "untimed")

    def _switch_phase(self, name: str) -> None:
        if self._stack and self._stack[-1].kind == "phase":
            self._close(self._stack[-1])
        self._open(name, "phase")

    @contextmanager
    def root(self, name: str):
        """A top-level span: one timed part of an operation."""
        t0 = time.perf_counter()
        span = self._open(name, "call")
        self.overhead_s += time.perf_counter() - t0
        try:
            yield span
        finally:
            t0 = time.perf_counter()
            self._close(span)
            self.overhead_s += time.perf_counter() - t0

    # --------------------------------------------------------- wrapping
    def wrap(self, owner: object, attr: str, name: str, *, phase: str | None = None,
             phase_after: str | None = None, first_phase: str | None = None,
             on_call=None, on_return=None) -> None:
        """Replace ``owner.attr`` with a traced version.

        ``first_phase`` opens a phase as soon as the call starts (the
        call owns phases). ``on_call(span, args, kwargs)`` runs before
        the call and may register deferred work in ``self.deferred``;
        ``on_return(span, args, kwargs)`` runs once the call returned."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer._stack:  # untimed work (checks) is not traced
                return original(*args, **kwargs)
            t0 = time.perf_counter()
            if phase:
                tracer._switch_phase(phase)
            span = tracer._open(name, "call")
            if on_call is not None:
                on_call(span, args, kwargs)
            if first_phase:
                tracer._open(first_phase, "phase")
            t1 = time.perf_counter()
            try:
                result = original(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                tracer._close(span)
                if phase_after:
                    tracer._switch_phase(phase_after)
                tracer.overhead_s += (t1 - t0) + (time.perf_counter() - t2)
            if on_return is not None:
                t3 = time.perf_counter()
                on_return(span, args, kwargs)
                tracer.overhead_s += time.perf_counter() - t3
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def run_deferred(self) -> None:
        """Run the bookkeeping that needs Spark jobs (source row counts)
        outside every span, under a job group no span reads."""
        self._sc.setJobGroup(IDLE_GROUP, "untimed")
        for fn in self.deferred:
            fn()
        self.deferred.clear()

    # ---------------------------------------------------------- reading
    def subtree(self, root: Span) -> list[Span]:
        ids, out = {root.id}, [root]
        for s in self.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its direct children cover
        (children never overlap: execution is single-threaded)."""
        children = sum(
            c.end - c.start for c in self.spans[span.id + 1:] if c.parent == span.id
        )
        return (span.end - span.start) - children

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["self_s"] = self.self_seconds(s)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump(rows, fh)
