"""In-memory span tracer for the benchmark's traced run.

A span is (name, start, end, parent) plus optional attributes. Spans
are kept in a list and written out once, when the run ends. The time
the tracer spends on its own bookkeeping is summed so the run can
report its overhead.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    @contextmanager
    def wrapped(self, targets: list[tuple[str, object, str]]):
        """Record a span around every call of module.attr, for each
        (span name, module, attr) in targets; restore them on exit."""
        saved = []
        for name, module, attr in targets:
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            setattr(module, attr, self._wrap(name, fn))
        try:
            yield
        finally:
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
                if isinstance(result, list):
                    rec["n_out"] = len(result)
                return result

        return call

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]].append(s)
        return out

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]
