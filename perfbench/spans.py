"""In-memory spans (name, start, end, parent), written once at exit."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    def __init__(self, sid: int, name: str, parent: int | None, start: float):
        self.id, self.name, self.parent, self.start = sid, name, parent, start
        self.end: float | None = None
        self.attrs: dict = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Spans:
    def __init__(self):
        self.origin = time.perf_counter()
        self.items: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.items), name, parent, time.perf_counter() - self.origin)
        s.attrs.update(attrs)
        self.items.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter() - self.origin

    def write(self, path: str, header: dict) -> None:
        rows = [{"id": s.id, "name": s.name, "parent": s.parent,
                 "start_s": round(s.start, 6),
                 "end_s": None if s.end is None else round(s.end, 6),
                 **s.attrs} for s in self.items]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**header, "spans": rows}, f, indent=1)
