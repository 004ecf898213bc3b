"""In-memory span tracer for the traced benchmark run.

Spans are recorded in the benchmark's own process around calls into the
engine's public functions: ``instrument`` swaps each listed module
attribute or class method for a wrapper that opens a span, and
``restore`` puts the originals back. Spans stay in memory and are
written once, when the run ends. Spark work runs lazily inside the
engine call or the benchmark action that forces it, so a layer's self
time is wall time in the benchmark process, not executor CPU.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def instrument(self, targets: list[tuple[object, str, str]]) -> None:
        """Wrap ``owner.attr`` for each (owner, attr, span name)."""
        for owner, attr, name in targets:
            orig = getattr(owner, attr)

            def make(fn=orig, name=name):
                @functools.wraps(fn)
                def wrapper(*a, **kw):
                    with self.span(name):
                        return fn(*a, **kw)
                return wrapper

            setattr(owner, attr, make())
            self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def self_times(self) -> dict[str, float]:
        """Self time per layer (the span name's first dotted component):
        each span's duration minus the part its children cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, kids in zip(self.spans, child_time):
            if s["end"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - kids
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
