"""In-memory span recorder and the self-time arithmetic over its spans.

A span is one call across a layer boundary: ``(name, start, end, parent,
op)``. Spans nest through a stack, because the benchmark drives the
program from one closed-loop client thread. They are kept in memory and
written out once, when the run ends.

A layer is the part of a span name before the first ``:``
(``cdlfs:load`` belongs to layer ``cdlfs``). A span's self time is its
duration minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


class Tracer:
    """Records spans and per-op counters; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[tuple[int | None, str], float] = defaultdict(float)
        self._stack: list[int] = []
        self.op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------

    def open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span stack out of order: closed {idx}, top was {popped}")

    def span(self, name: str):
        return _SpanContext(self, name)

    def count(self, key: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[(self.op, key)] += value

    # -- wrapping the program's layers --------------------------------------

    def wrap_function(self, owner: object, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records span ``name``.

        ``on_return(args, kwargs, result)`` runs inside the span and may
        record counters at the boundary where the work happens."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            idx = tracer.open(name)
            try:
                result = original(*args, **kwargs)
                if on_return is not None and tracer.enabled:
                    on_return(args, kwargs, result)
                return result
            finally:
                tracer.close(idx)

        wrapper.__wrapped_by_tracer__ = original  # type: ignore[attr-defined]
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def wrap_module(self, module, layer: str, hooks: dict | None = None) -> list[str]:
        """Wrap every public function defined in ``module`` as ``layer:fn``.

        Modules that bound a wrapped function by ``from module import fn``
        are rebound to the wrapper as well, so calls between layers are
        seen whichever way the caller imported the function."""
        hooks = hooks or {}
        wrapped = []
        for attr, value in sorted(vars(module).items()):
            if attr.startswith("_") or not inspect.isfunction(value):
                continue
            if value.__module__ != module.__name__:
                continue
            self.wrap_function(module, attr, f"{layer}:{attr}", hooks.get(attr))
            wrapped.append(attr)
        self._rebind_imports(module, wrapped)
        return wrapped

    def wrap_methods(self, cls, layer: str, names: list[str]) -> None:
        for attr in names:
            self.wrap_function(cls, attr, f"{layer}:{attr}")

    def _rebind_imports(self, module, attrs: list[str]) -> None:
        package = module.__name__.split(".", 1)[0]
        originals = {id(getattr(module, a).__wrapped_by_tracer__): a for a in attrs}
        for mod_name, other in list(sys.modules.items()):
            if other is None or other is module or not mod_name.startswith(package):
                continue
            for attr, value in list(vars(other).items()):
                target = originals.get(id(value))
                if target is not None:
                    setattr(other, attr, getattr(module, target))
                    self._patched.append((other, attr, value))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- output ----------------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps([s.name, s.start, s.end, s.parent, s.op]) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name
        self.idx: int | None = None

    def __enter__(self):
        self.idx = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.close(self.idx)


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus the union of its
    children's intervals, clipped to the span."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(i, ()), key=lambda j: spans[j].start):
            lo = max(spans[c].start, cursor)
            hi = min(spans[c].end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out.append((s.end - s.start) - covered)
    return out


def self_time_totals(spans: list[Span], ops: set[int] | None = None, by_layer: bool = True) -> dict[str, float]:
    """Sum of self time per layer (or per full span name with
    ``by_layer=False``), over the spans of ``ops`` (all when None)."""
    totals: dict[str, float] = defaultdict(float)
    for s, st in zip(spans, self_times(spans)):
        if ops is None or s.op in ops:
            totals[s.layer if by_layer else s.name] += st
    return dict(totals)


def op_self_sum_errors(spans: list[Span], op_walls: dict[int, float]) -> dict[int, float]:
    """Per op: |sum of self times of the op's spans - the op's wall time|."""
    sums: dict[int, float] = defaultdict(float)
    for s, st in zip(spans, self_times(spans)):
        if s.op is not None:
            sums[s.op] += st
    return {op: abs(sums.get(op, 0.0) - wall) for op, wall in op_walls.items()}
