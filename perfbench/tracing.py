"""In-memory span tracer for the traced run.

Spans are recorded from the benchmark's own files around calls into the
engine's layers: a layer function is wrapped where its caller looks it up
(for example ``write_csv`` in ``plans.etl_graph``'s namespace), so the
program files stay untouched. Each span keeps name, start, end, parent and
operation id; spans are written out once, when the run ends. One thread
opens spans at a time: the streaming sink's callback runs on its own
thread while the caller waits for the query. A disabled
tracer records nothing and wraps nothing, so the untraced run measures the
plain engine."""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self.ops: list[str] = []  # ids of the timed operations, in order
        self._stack: list[int] = []  # ids of the open spans
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def operation(self, op_id: str):
        """Attribute the spans opened inside to one timed operation."""
        self.op_id = op_id
        self.ops.append(op_id)
        try:
            yield
        finally:
            self.op_id = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op_id,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def patch(self, owner: object, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` until :meth:`restore`."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, functools.wraps(original)(make(original)))

    def wrap(self, owner: object, attr: str, name) -> None:
        """Span every call of ``owner.attr``; ``name`` is a string or a
        function of the call's (args, kwargs)."""

        def make(original):
            def spanned(*args, **kwargs):
                label = name(args, kwargs) if callable(name) else name
                with self.span(label):
                    return original(*args, **kwargs)

            return spanned

        self.patch(owner, attr, make)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # --- analysis -----------------------------------------------------------
    def closed(self, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans if s["end"] is not None and (name is None or s["name"] == name)
        ]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed(name)]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by the span's children."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.closed() if c["parent"] == span["id"]
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            a, b = max(a, span["start"]), min(b, span["end"])
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (span["end"] - span["start"]) - covered

    def per_op_sum(self, prefix: str, self_time: bool = False) -> list[float]:
        """Total duration (or self time) of the spans whose name starts with
        ``prefix``, per operation id, over every timed operation."""
        sums = {op: 0.0 for op in self.ops}
        for s in self.closed():
            if s["name"].startswith(prefix) and s["op"] in sums:
                sums[s["op"]] += self.self_time(s) if self_time else s["end"] - s["start"]
        return list(sums.values())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
