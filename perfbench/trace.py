"""In-memory spans and counters for the traced run.

Spans are recorded by the benchmark itself, around the calls it makes into
the library (query construct/execute) and, through wrappers it installs,
around every public function of the traced library modules.  A span's self
time is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "compss_python_spark"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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
    """Span id → duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent in by_id:
            p = by_id[s.parent]
            children.setdefault(p.id, []).append((max(s.start, p.start), min(s.end, p.end)))
    return {
        s.id: (s.end - s.start) - union_length(children.get(s.id, ())) for s in spans
    }


class Tracer:
    """Records spans on one thread; parents come from the open-span stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), self._stack[-1] if self._stack else None, name, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def module_totals(self) -> dict[str, tuple[float, int]]:
        """Span name → (summed self time, number of spans)."""
        st = self_times(self.spans)
        out: dict[str, tuple[float, int]] = {}
        for s in self.spans:
            t, n = out.get(s.name, (0.0, 0))
            out[s.name] = (t + st[s.id], n + 1)
        return out


def install_module_spans(tracer: Tracer, modules) -> int:
    """Wrap every public function defined in each ``PACKAGE.<module>`` so a
    call records a span named after the module.  Modules that imported such
    a function by name (``from ..caching import release_checkpoint``) hold
    their own binding, so every loaded module of the package is rebound too.
    Returns the number of bindings replaced."""
    wrapped: dict[int, object] = {}
    for short in modules:
        mod = importlib.import_module(f"{PACKAGE}.{short}")
        for attr, fn in list(vars(mod).items()):
            if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            wrapped[id(fn)] = _wrap(tracer, short, fn)
    n = 0
    for name, mod in list(sys.modules.items()):
        if not (name == PACKAGE or name.startswith(PACKAGE + ".")) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            w = wrapped.get(id(val))
            if w is not None:
                setattr(mod, attr, w)
                n += 1
    return n


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


class Py4jCounter:
    """Counts driver → JVM round trips while installed."""

    def __init__(self) -> None:
        self.calls = 0
        self._orig = None

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = self._orig = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command, *args, **kwargs):
            counter.calls += 1
            return orig(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        from py4j.clientserver import ClientServerConnection

        if self._orig is not None:
            ClientServerConnection.send_command = self._orig
            self._orig = None
