"""In-memory spans for the traced run, and the time box of a run.

Spans are recorded from the benchmark's own files, around the calls
into each layer: a :class:`Tracer` wraps a public function where its
caller looks it up (``Tracer.patch``) and records name, start, end,
parent span and attributes. Nothing is written until the run ends.
With ``enabled=False`` every method is a no-op, so the untraced runs
pay nothing for it.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any


def repeat_within(seconds: float, unit: Callable[[int], Any]) -> list[Any]:
    """Call ``unit(i)`` once, then again while one more call, as long as
    the last one, still ends within ``seconds``: a run measures about
    ``seconds`` and never overshoots by more than its first unit."""
    results: list[Any] = []
    started = time.perf_counter()
    last = 0.0
    while not results or time.perf_counter() - started + last <= seconds:
        t0 = time.perf_counter()
        results.append(unit(len(results)))
        last = time.perf_counter() - t0
    return results


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
        """Record one span; the yielded dict takes attributes set
        inside the block (counts measured where the work happens)."""
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.time()
        try:
            yield attrs
        finally:
            stack.pop()
            record = {"id": span_id, "parent": parent, "name": name, "start": start, "end": time.time(), **attrs}
            with self._lock:
                self.spans.append(record)

    def spanned(self, name: str) -> Callable[[Callable], Callable]:
        """A ``make`` for :meth:`patch`: the original inside a span."""

        def make(fn: Callable) -> Callable:
            @functools.wraps(fn)
            def wrapper(*args: Any, **kwargs: Any) -> Any:
                with self.span(name):
                    return fn(*args, **kwargs)

            return wrapper

        return make

    def patch(self, owner: Any, attr: str, make: Callable[[Callable], Callable]) -> None:
        """Replace ``owner.attr`` by ``make(original)`` until :meth:`restore`."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, make(original))

    @contextmanager
    def patched(self, owner: Any, attr: str, make: Callable[[Callable], Callable]) -> Iterator[None]:
        """:meth:`patch` for the duration of a block only."""
        if not self.enabled:
            yield
            return
        original = getattr(owner, attr)
        setattr(owner, attr, make(original))
        try:
            yield
        finally:
            setattr(owner, attr, original)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def named(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def write(self, path: str, layers: dict[str, Any]) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "layers": layers}, fh)
