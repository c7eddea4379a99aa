"""Spans around the calls the benchmark makes into each layer.

Spans live in memory (:class:`Tracer`) and are written once, when the
run ends. Wrapping happens at the *import sites* the runner actually
calls through: ``actions.sql_submit`` binds ``parse_create_table``,
``adapt_sql`` and ``load_statements`` by name at import, so those names
are replaced in that module; the other layers are called through their
module attribute and are replaced there.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import threading
import time
from dataclasses import dataclass, field

#: (module holding the name the runner calls, attribute, span name)
PATCH_SITES = [
    ("flink_commons_spark.actions.sql_submit", "load_statements", "plans.load_statements"),
    ("flink_commons_spark.actions.sql_submit", "load_statements_from_text", "plans.load_statements"),
    ("flink_commons_spark.actions.sql_submit", "adapt_sql", "plans.adapt_sql"),
    ("flink_commons_spark.actions.sql_submit", "parse_create_table", "plans.parse_create_table"),
    ("flink_commons_spark.plans.match_recognize", "execute_match_recognize", "plans.mr_compile"),
    ("flink_commons_spark.sources.registry", "build_source", "sources.build_source"),
    ("flink_commons_spark.sources.registry", "write_batch_sink", "sources.write_batch_sink"),
    ("flink_commons_spark.sources.registry", "start_stream_sink", "sources.start_stream_sink"),
    ("flink_commons_spark.functions.registry", "register_all", "functions.register_all"),
]


@dataclass
class Span:
    span_id: int
    name: str
    run_id: str
    parent: int | None
    start_ns: int
    end_ns: int = 0
    count: int | None = None  # items the call returned, where that is a count

    @property
    def duration_ns(self) -> int:
        return self.end_ns - self.start_ns


@dataclass
class Tracer:
    """In-memory span recorder; one stack per thread."""

    spans: list[Span] = field(default_factory=list)
    run_id: str = ""
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _patched: list = field(default_factory=list)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span:
        stack = self._stack()
        span = Span(next(self._ids), name, self.run_id,
                    stack[-1].span_id if stack else None, time.perf_counter_ns())
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end_ns = time.perf_counter_ns()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        self.spans.append(span)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.begin(name)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    span.count = len(out)
                return out
            finally:
                self.end(span)

        return traced

    def install(self) -> None:
        """Wrap every :data:`PATCH_SITES` name; idempotent."""
        if self._patched:
            return
        for mod_name, attr, span_name in PATCH_SITES:
            mod = importlib.import_module(mod_name)
            original = getattr(mod, attr)
            setattr(mod, attr, self.wrap(original, span_name))
            self._patched.append((mod, attr, original))

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()


def self_times_ns(spans: list[Span]) -> dict[int, int]:
    """Span id → self time: its duration minus the part of its interval
    that its child spans cover (overlapping children counted once,
    clipped to the parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start_ns):
            lo, hi = max(c.start_ns, s.start_ns), min(c.end_ns, s.end_ns)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration_ns - covered
    return out


def totals_ms(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Span name → {calls, total_ms, self_ms} summed over ``spans``."""
    selfs = self_times_ns(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        agg = out.setdefault(s.name, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["calls"] += 1
        agg["total_ms"] += s.duration_ns / 1e6
        agg["self_ms"] += selfs[s.span_id] / 1e6
    return out
