"""In-memory span recorder for the traced benchmark run.

A span is one timed call at a layer boundary: name, start, end, parent span
and the id of the operation (pass or call) it belongs to. Spans are kept in
a list and written out once, when the run ends. Library functions are
traced from outside by replacing a module attribute with a timing wrapper
for the duration of the traced phase; the library source is untouched.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from typing import Any, Callable, Optional


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: Optional[int] = None
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        count: Optional[Callable[[Any], dict]] = None,
    ) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name``; ``count`` maps the return value to extra span fields."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if count is not None:
                    rec.update(count(out))
                return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def self_times(self, op: int) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover
        (children never outlive their parent, so subtraction is exact)."""
        spans = [(i, s) for i, s in enumerate(self.spans) if s["op"] == op]
        child_time: dict[int, float] = defaultdict(float)
        for _, s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[i]
        return dict(out)

    def total(self, op: int, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.op_spans(op) if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


class NullTracer(Tracer):
    """Untraced phase: same interface, records nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        yield {}
