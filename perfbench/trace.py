"""In-memory span recorder for the traced benchmark run.

Each layer's public functions are wrapped from the benchmark's side:
``Tracer.wrap(owner, attr)`` replaces the attribute where its caller looks
it up (``sparkcrawl.plans.superstep`` imports operators by name, so
``select_fetch_batch`` is patched on that module, not on
``operators.schedule``). Spans are kept in a list and written once, when
the run ends; ``restore()`` puts every original back.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.wrapper_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": 0.0, "end": 0.0, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        self.wrapper_s += rec["start"] - t_in
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.wrapper_s += time.perf_counter() - rec["end"]

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. ``after(attrs, args, kwargs, result)`` may add
        counts to the span once the call returns."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                result = original(*args, **kwargs)
                if after is not None:
                    t = time.perf_counter()
                    after(attrs, args, kwargs, result)
                    self.wrapper_s += time.perf_counter() - t
                return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- queries over the recorded spans ------------------------------------
    def named(self, name: str, within: tuple[float, float] | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name]
        if within is not None:
            lo, hi = within
            out = [s for s in out if s["start"] >= lo and s["end"] <= hi]
        return out

    def total(self, name: str, within: tuple[float, float] | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, within))

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans}, f)
