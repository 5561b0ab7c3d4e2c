"""Spans around calls into the package's modules, recorded from the
benchmark's own files.

``install`` replaces selected public functions of
``spotify_etl_aws_spark`` with timing wrappers. It rebinds every module
attribute that refers to the original function, so code that imported
the function by name (``from ..sources.readers import load_table as t``)
is traced too, provided the importing module is loaded after ``install``
or was already loaded when it ran.

A span records its name, start, end and parent. A span opened on a
thread with no open span of its own (the pool threads some queries
start) takes the innermost open span of the main thread as its parent.

``exclusive_times`` attributes the wall time of a root span to the
spans below it: each instant goes to the innermost spans open at that
instant, split evenly when several run at once. Without concurrency a
span's share is its self time: its duration minus the time its child
spans cover.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from collections import Counter, defaultdict

PKG = "spotify_etl_aws_spark"

# (module, attribute, span name); the span's layer is its first component
TARGETS = [
    ("sources.readers", "load_table", "sources.load_table"),
    ("sources.readers", "read_raw_playlists", "sources.read_raw_playlists"),
    ("sources.sinks", "write_parquet", "sinks.write_parquet"),
    ("sources.sinks", "write_partitioned", "sinks.write_partitioned"),
    ("sources.sinks", "upsert_partitioned", "sinks.upsert_partitioned"),
    ("sources.sinks", "upsert_unpartitioned", "sinks.upsert_unpartitioned"),
    ("operators.lineage", "cut_lineage", "operators.lineage.cut"),
    ("operators.lineage", "cut_lineage_eager", "operators.lineage.cut"),
    ("operators.quality", "expect_all", "operators.quality.expect_all"),
    ("operators.shred", "shred", "operators.shred"),
    ("operators.staging", "stage", "operators.stage"),
    ("operators.core", "gold", "operators.gold"),
    ("streaming.pipeline", "run_available_now", "streaming.run_available_now"),
    ("streaming.cdc", "run_cdc_upsert", "streaming.run_cdc_upsert"),
    ("plans.medallion", "run_medallion", "plans.medallion.run"),
    ("plans.medallion", "refresh_gold_incremental", "plans.medallion.refresh"),
]


class Span:
    __slots__ = ("name", "start", "end", "parent", "attrs")

    def __init__(self, name: str, start: float, parent: "Span | None", attrs: dict):
        self.name = name
        self.start = start
        self.end: float | None = None
        self.parent = parent
        self.attrs = attrs

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; nothing is written until the run ends."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, **attrs) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        span = Span(name, self.clock(), parent, attrs)
        stack.append(span)
        with self._lock:
            self.spans.append(span)
            self.counts[name] += 1
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        elif span in stack:
            stack.remove(span)

    def span(self, name: str, **attrs):
        return _SpanContext(self, name, attrs)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            path = next((a for a in args if isinstance(a, str)), None)
            span = self.open(name, path=path)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        traced.__wrapped_original__ = fn
        return traced


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        self.span = self.tracer.open(self.name, **self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.close(self.span)


def install(tracer: Tracer) -> None:
    """Wrap every TARGETS function and rebind each reference to it in
    the package's loaded modules. Modules loaded afterwards, such as the
    query modules, bind the wrappers from the defining modules."""
    wrappers: dict[int, object] = {}
    for mod_name, attr, span_name in TARGETS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        fn = getattr(mod, attr)
        if id(fn) not in wrappers:
            wrappers[id(fn)] = tracer.wrap(fn, span_name)
    rebind(wrappers)


def rebind(wrappers: dict[int, object]) -> None:
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            w = wrappers.get(id(value))
            if w is not None and w is not value:
                setattr(mod, attr, w)


def exclusive_times(spans: list[Span], root: Span) -> dict[Span, float]:
    """Share of ``root``'s wall time owned by each span under it
    (``root`` included): each instant goes to the innermost open spans,
    split evenly among them."""
    members = [s for s in spans if s is root or _descends(s, root)]
    children = defaultdict(list)
    for s in members:
        if s is not root:
            children[s.parent].append(s)
    cuts = sorted(
        {root.start, root.end}
        | {min(max(t, root.start), root.end) for s in members for t in (s.start, s.end)}
    )
    owned = {s: 0.0 for s in members}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        active = [s for s in members if s.start <= a and s.end >= b]
        leaves = [
            s
            for s in active
            if not any(c.start <= a and c.end >= b for c in children[s])
        ]
        for s in leaves:
            owned[s] += (b - a) / len(leaves)
    return owned


def _descends(span: Span, root: Span) -> bool:
    p = span.parent
    while p is not None:
        if p is root:
            return True
        p = p.parent
    return False
