"""In-memory span tracer for the traced run.

Spans are recorded around calls into the engine's layers by wrapping
the layer's function from outside: every module attribute bound to
the function object is replaced, whatever name it was imported under,
so calls through any import path are seen. Nothing inside the engine changes.

Each span holds a name, start and end (perf_counter seconds), the span
that was open when it started, and the operation id shared by the
spans of one benchmark operation. Counters accumulate per name.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._op: int | None = None
        self._patches: list[tuple[object, str, object, object]] = []

    # -- recording ---------------------------------------------------------

    def begin_op(self, op_id: int) -> None:
        self._op = op_id

    def end_op(self) -> None:
        self._op = None

    def in_op(self) -> bool:
        return self._op is not None

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] += n

    # -- wrapping ----------------------------------------------------------

    def wrap(self, module: str, attr: str, name: str, on_call=None,
             before=None) -> None:
        """Record a span ``name`` around every call of ``module.attr``.
        ``before(args, kwargs)`` runs first and its value reaches
        ``on_call(args, kwargs, span, state)``, which may add counters.
        Takes effect on ``enable()``."""
        original = getattr(importlib.import_module(module), attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            state = before(args, kwargs) if before is not None else None
            with tracer.span(name) as s:
                result = original(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, s, state)
            return result

        for holder in list(sys.modules.values()):
            for key, value in list(getattr(holder, "__dict__", {}).items()):
                if value is original:
                    self._patches.append((holder, key, original, wrapper))

    def wrap_method(self, cls: type, attr: str, name: str) -> None:
        original = cls.__dict__[attr]
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patches.append((cls, attr, original, wrapper))

    def enable(self) -> None:
        for holder, key, _, wrapper in self._patches:
            setattr(holder, key, wrapper)

    def disable(self) -> None:
        for holder, key, original, _ in self._patches:
            setattr(holder, key, original)

    # -- reporting ---------------------------------------------------------

    def durations(self, ops: set[int] | None = None) -> dict[str, list[float]]:
        """Durations per span name, outermost spans only (a name nested
        in itself is counted once), of operations ``ops`` or of all."""
        by_id = {s.sid: s for s in self.spans}
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if ops is not None and s.op not in ops:
                continue
            anc = s.parent
            while anc is not None and by_id[anc].name != s.name:
                anc = by_id[anc].parent
            if anc is None:
                out[s.name].append(s.end - s.start)
        return out

    def totals(self) -> tuple[dict[str, float], dict[str, float], dict[str, int]]:
        """(inclusive seconds, self seconds, call count) per span name.
        Self time is a span's duration minus the part its child spans
        cover."""
        self_t: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        for s in self.spans:
            calls[s.name] += 1
            self_t[s.name] += (s.end - s.start) - child_time[s.sid]
        incl = {n: sum(ds) for n, ds in self.durations().items()}
        return incl, dict(self_t), dict(calls)

    def dump(self, path: str, extra: dict) -> None:
        incl, self_t, calls = self.totals()
        with open(path, "w") as fh:
            json.dump({
                **extra,
                "layers": {n: {"inclusive_s": incl[n], "self_s": self_t[n],
                               "calls": calls[n]} for n in sorted(calls)},
                "counters": dict(self.counters),
                "spans": [[s.sid, s.name, s.start, s.end, s.parent, s.op]
                          for s in self.spans],
            }, fh)


class _SpanCtx:
    __slots__ = ("t", "name", "sid", "start", "end", "parent")

    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        self.sid = next(t._ids)
        self.parent = t._stack[-1] if t._stack else None
        t._stack.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        t = self.t
        t._stack.pop()
        t.spans.append(Span(self.sid, self.name, self.start, self.end,
                            self.parent, t._op))
        return False
