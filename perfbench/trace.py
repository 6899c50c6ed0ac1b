"""Span recording around the engine's public layer entry points.

The benchmark wraps module functions and backend methods with
recorders only in a traced run; an untraced run calls the engine
unwrapped. Spans stay in memory and are written out once, when the
run ends. Each span has a name, start, end and the id of the span
that was open when it began (its parent), plus the id of the
benchmark op it belongs to.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import asdict, dataclass, field

from perfbench.stats import self_time


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory span store with a stack of open spans."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        #: the op whose spans are being recorded; ``active`` while a
        #: traced op runs
        self.op = -1
        self.active = False
        self._stack: list[Span] = []
        self._undo: list[Callable[[], None]] = []

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, self.op, parent, self.clock())
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        self._stack.remove(span)

    def wrap(self, owner, attr: str, name: str,
             before: Callable | None = None,
             after: Callable | None = None) -> None:
        """Replace ``owner.attr`` with a recorder until
        :meth:`uninstall`. ``before(args, kwargs)`` runs ahead of the
        span and its return value reaches ``after(span, args, kwargs,
        result, state)``, which may add counts to the span once the
        call returns. Neither hook is inside the span's interval."""
        inner = getattr(owner, attr)
        tracer = self

        @functools.wraps(inner)
        def recorder(*args, **kwargs):
            state = before(args, kwargs) if before is not None else None
            span = tracer.open(name)
            try:
                result = inner(*args, **kwargs)
            finally:
                tracer.close(span)
            if after is not None:
                after(span, args, kwargs, result, state)
            return result

        original = owner.__dict__[attr]
        setattr(owner, attr, recorder)
        self._undo.append(lambda: setattr(owner, attr, original))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        return {
            s.id: self_time(s.start, s.end, children[s.id]) for s in self.spans
        }

    def per_op(self) -> dict[int, dict[str, float]]:
        """Per op: total duration (``<name>``), self time
        (``<name>.self``) and summed counts (``<name>.<count>``) of
        every span name."""
        selfs = self.self_times()
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            row = out[s.op]
            row[s.name] += s.end - s.start
            row[s.name + ".self"] += selfs[s.id]
            for k, v in s.counts.items():
                row[f"{s.name}.{k}"] += v
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
