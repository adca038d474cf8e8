"""Spans recorded from the benchmark's own files around each call into a
layer of the program. Kept in memory; ``dump`` writes them at exit.

A span has a name, start and end (seconds on the process's
``perf_counter`` clock), the id of the span that caused it, the run id
shared by every span of one run, and free-form counts (``set``). With
tracing off, ``span`` hands out one shared no-op span, so the untraced
run pays a function call per layer boundary and nothing else.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Iterator


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None, attrs: dict):
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.start = time.perf_counter()
        self.end = self.start

    def set(self, **counts) -> None:
        self.attrs.update(counts)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class _NullSpan:
    def set(self, **counts) -> None:
        pass


_NULL = _NullSpan()


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | _NullSpan]:
        if not self.enabled:
            yield _NULL
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "id": s.id, "name": s.name,
                    "parent": s.parent, "start": s.start, "end": s.end, **s.attrs,
                }) + "\n")
