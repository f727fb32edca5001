"""Span tracing for the benchmark's traced run (``--trace 1``).

The program is not edited: :class:`Tracer` installs timing wrappers on
the public entry points of each layer at run time and removes them when
the run ends.  A span has a name, a start, an end, its parent span and
the op it belongs to.  Spans are kept in memory and summarised once the
run is over; a layer's self time is its spans' durations minus the part
covered by their child spans.

Only calls made on the thread that created the tracer are recorded, so a
wrapped function called from a py4j callback thread cannot corrupt the
span stack.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict


def _get(owner, attr: str):
    if isinstance(owner, dict):
        return owner[attr]
    return vars(owner)[attr] if attr in vars(owner) else getattr(owner, attr)


def _set(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.names: list[str] = []
        self.starts: list[float] = []
        self.ends: list[float] = []
        self.parents: list[int] = []
        self.ops: list[object] = []
        self.counts: dict[object, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self._stack: list[int] = []
        self._op: object = None
        self._thread = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording

    def set_op(self, op: object) -> None:
        """Attribute the following spans and counts to ``op``."""
        self._op = op

    def count(self, key: str, n: float = 1.0) -> None:
        if threading.get_ident() == self._thread:
            self.counts[self._op][key] += n

    @contextlib.contextmanager
    def span(self, name: str):
        if threading.get_ident() != self._thread:
            yield
            return
        idx = len(self.names)
        self.names.append(name)
        self.parents.append(self._stack[-1] if self._stack else -1)
        self.ops.append(self._op)
        self.ends.append(0.0)
        self._stack.append(idx)
        self.starts.append(time.perf_counter())
        try:
            yield
        finally:
            self.ends[idx] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a wrapper that records a ``name``
        span per call; ``after(tracer, result, args)`` runs once the call
        returns, outside the span, to record counts."""
        orig = _get(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(tracer, result, args)
            return result

        self._patches.append((owner, attr, orig))
        _set(owner, attr, traced)

    def restore(self) -> None:
        while self._patches:
            _set(*self._patches.pop())

    # ------------------------------------------------------------ summaries

    def layer_times(self, ops) -> tuple[dict[str, float], dict[str, float], dict[str, int]]:
        """Total and self seconds per span name, and span counts, over the
        spans of ``ops``."""
        ops = set(ops)
        child = [0.0] * len(self.names)
        for i, p in enumerate(self.parents):
            if p >= 0:
                child[p] += self.ends[i] - self.starts[i]
        total: dict[str, float] = defaultdict(float)
        self_t: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for i, name in enumerate(self.names):
            if self.ops[i] not in ops:
                continue
            d = self.ends[i] - self.starts[i]
            total[name] += d
            self_t[name] += d - child[i]
            calls[name] += 1
        return total, self_t, calls

    def count_total(self, ops, key: str) -> float:
        return sum(self.counts[o][key] for o in set(ops) if o in self.counts)


class NullTracer:
    """Stand-in used with ``--trace 0``: records nothing, wraps nothing."""

    enabled = False

    def set_op(self, op: object) -> None:
        pass

    def span(self, name: str):
        return contextlib.nullcontext()

    def restore(self) -> None:
        pass
