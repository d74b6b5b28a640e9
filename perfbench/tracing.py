"""Spans around calls into the engine's layers, recorded from outside.

The traced run replaces public functions and methods of the package with
wrappers that record a span per call: name, op id, parent span, start
and end. Spans stay in memory and are written out when the run ends.
A span's self time is its duration minus the time covered by its child
spans; calls run on one thread, so children never overlap and their
durations simply add up.

Hot callbacks (evaluator closures, the delete matcher's `match`) are
"light": they add to a per-name call count and total time, and to their
parent span's child time, without allocating a span each.

A module that did `from .manifest import scan_manifest` holds its own
binding, so a function is replaced in every loaded module of the
package that binds the same object, not only where it is defined.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict

PACKAGE = "iceberg_go_distributed_spark"


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end", "child_ns", "counts", "error")

    def __init__(self, sid, name, op, parent, start):
        self.sid, self.name, self.op, self.parent, self.start = sid, name, op, parent, start
        self.end = None
        self.child_ns = 0
        self.counts = defaultdict(int)  # inclusive of descendants
        self.error = None

    @property
    def duration_ns(self) -> int:
        return self.end - self.start

    @property
    def self_ns(self) -> int:
        return self.duration_ns - self.child_ns

    def as_dict(self) -> dict:
        return {
            "sid": self.sid,
            "name": self.name,
            "op": self.op,
            "parent": self.parent.sid if self.parent is not None else None,
            "start_ns": self.start,
            "end_ns": self.end,
            "self_ns": self.self_ns,
            "counts": dict(self.counts),
            "error": self.error,
        }


class Tracer:
    """Records spans while active. `patch_*` register wrappers;
    `activate()` puts them in place and `deactivate()` restores the
    originals, so ops run between the two cost exactly what they cost
    untraced. A wrapper kept by a caller past `deactivate()` (a closure
    the engine cached) passes straight through."""

    def __init__(self, clock=time.perf_counter_ns):
        self.clock = clock
        self.enabled = False
        self.op = None
        self.stack: list[Span] = []
        self.spans: list[Span] = []
        self.light = defaultdict(lambda: [0, 0])  # name -> [calls, ns]
        self._next_sid = 0
        self._patches: list = []  # (owner, name, original, wrapper)

    # ---------------------------------------------------------- recording

    def begin(self, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        self._next_sid += 1
        span = Span(self._next_sid, name, self.op, parent, self.clock())
        self.stack.append(span)
        return span

    def end(self, span: Span, error: str | None = None) -> None:
        span.end = self.clock()
        span.error = error
        popped = self.stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} ended out of order")
        if span.parent is not None:
            span.parent.child_ns += span.duration_ns
            for k, v in span.counts.items():
                span.parent.counts[k] += v
        self.spans.append(span)

    def count(self, key: str, n: int = 1) -> None:
        """Add `n` to `key` on the innermost open span (and so, when it
        ends, on every span enclosing it)."""
        if self.enabled and self.stack:
            self.stack[-1].counts[key] += n

    def span(self, name: str):
        """Context manager for a span opened by the benchmark itself."""
        return _SpanContext(self, name)

    # ----------------------------------------------------------- wrappers

    def wrap(self, name: str, fn, on_result=None):
        """`fn` recording a span named `name` per call. `on_result(span,
        result, args, kwargs)` may add counts before the span ends."""
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.begin(name)
            try:
                result = fn(*args, **kwargs)
            except BaseException as exc:
                tracer.end(span, type(exc).__name__)
                raise
            if on_result is not None:
                on_result(span, result, args, kwargs)
            tracer.end(span)
            return result

        traced.__wrapped__ = fn
        return traced

    def wrap_light(self, name: str, fn, on_result=None):
        """`fn` adding to the call count and time of `name` per call."""
        tracer = self
        acc = self.light[name]

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            t0 = tracer.clock()
            result = fn(*args, **kwargs)
            dt = tracer.clock() - t0
            acc[0] += 1
            acc[1] += dt
            if tracer.stack:
                tracer.stack[-1].child_ns += dt
            if on_result is not None:
                on_result(result)
            return result

        traced.__wrapped__ = fn
        return traced

    def patch_function(self, module, attr: str, wrapper_factory) -> None:
        """Register `wrapper_factory(original)` in place of function
        `module.attr` in every loaded module of the package that binds it."""
        original = getattr(module, attr)
        wrapper = wrapper_factory(original)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for name, value in list(vars(mod).items()):
                if value is original:
                    self._patches.append((mod, name, original, wrapper))

    def patch_method(self, cls, attr: str, wrapper_factory) -> None:
        original = vars(cls)[attr]
        self._patches.append((cls, attr, original, wrapper_factory(original)))

    def activate(self) -> None:
        for owner, name, _, wrapper in self._patches:
            setattr(owner, name, wrapper)
        self.enabled = True

    def deactivate(self) -> None:
        self.enabled = False
        for owner, name, original, _ in self._patches:
            setattr(owner, name, original)

    # ------------------------------------------------------------- output

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span.as_dict()) + "\n")
            for name, (calls, ns) in sorted(self.light.items()):
                f.write(json.dumps({"light": name, "calls": calls, "ns": ns}) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.span = tracer, name, None

    def __enter__(self):
        if self.tracer.enabled:
            self.span = self.tracer.begin(self.name)
        return self.span

    def __exit__(self, exc_type, exc, tb):
        if self.span is not None:
            self.tracer.end(self.span, exc_type.__name__ if exc_type else None)
        return False
