"""In-memory spans and counters for the traced run.

Spans are recorded by wrappers that this module installs over the
package's public functions (and over Spark's parquet write call) for the
duration of a traced run; nothing inside the package is edited.  A span
carries its name, start, end, parent span and op id.  Spans stay in
memory and are written out once, when the run ends.

A span name is ``<layer>.<function>``; the layer is the package module
the function belongs to.  A layer's self time is its spans' durations
minus the parts covered by their child spans.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[tuple, float] = defaultdict(float)
        self.op: int | None = None
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(None)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = {
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "op": self.op,
            }

    def count(self, name: str, n: float = 1) -> None:
        self.counts[(self.op, name)] += n

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``restore``.
        ``after(result, args, kwargs)`` runs inside the span and may
        return a replacement result (used to materialize lazy plans)."""
        real = getattr(owner, attr)

        @functools.wraps(real)
        def traced(*args, **kwargs):
            with self.span(name):
                result = real(*args, **kwargs)
                if after is not None:
                    replaced = after(result, args, kwargs)
                    if replaced is not None:
                        result = replaced
                return result

        self._restore.append((owner, attr, real))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._restore:
            owner, attr, real = self._restore.pop()
            setattr(owner, attr, real)

    # ---------------------------------------------------------- reports
    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s is not None and s["op"] == op]

    def span_ms(self, op: int, name: str) -> float:
        """Summed duration of the op's spans called ``name``."""
        return 1e3 * sum(
            s["end"] - s["start"] for s in self.op_spans(op) if s["name"] == name
        )

    def self_ms_by_layer(self, op: int) -> dict[str, float]:
        """Per layer: the op's span time minus the time of child spans."""
        own: dict[int, float] = {}
        for idx, s in enumerate(self.spans):
            if s is not None and s["op"] == op:
                own[idx] = own.get(idx, 0.0) + s["end"] - s["start"]
                if s["parent"] is not None:
                    own[s["parent"]] = own.get(s["parent"], 0.0) - (s["end"] - s["start"])
        out: dict[str, float] = defaultdict(float)
        for idx, t in own.items():
            out[self.spans[idx]["name"].split(".", 1)[0]] += 1e3 * t
        return dict(out)

    def op_count(self, op: int, name: str) -> float:
        return self.counts.get((op, name), 0.0)

    def dump(self, path: str) -> None:
        counts = [{"op": op, "name": n, "value": v} for (op, n), v in self.counts.items()]
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": counts}, f)
