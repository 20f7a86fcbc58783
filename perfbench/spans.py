"""In-memory spans recorded by the benchmark around calls into the engine.

A span is ``(id, name, start, end, parent, op)``.  ``name`` is
``<layer>:<call>`` where the layer is the engine module the call enters
(``encode.pipeline``, ``sources.spark_datasource`` ...) or ``bench`` for
the benchmark's own operation roots.  Spans of one benchmark operation
share ``op``.  Nothing is written until :meth:`Tracer.dump`, so recording
costs a ``perf_counter`` pair and a list append per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder.  ``enabled`` may be flipped between operations (the
    traced run alternates traced and untraced operations); a span opened
    while disabled records nothing, and neither do its children."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1
        self._next_op = 1

    def new_op(self) -> int:
        op = self._next_op
        self._next_op += 1
        return op

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Time the enclosed block as a child of the innermost open span.
        Yields the span's attribute dict (callers add counts to it), or a
        throwaway dict when disabled."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "attrs": dict(attrs),
        }
        self._next_id += 1
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def layer_of(name: str) -> str:
    return name.split(":", 1)[0]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its direct children
    cover (children of one parent run sequentially here, so their
    durations add without overlap)."""
    child_sum: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_sum[s["parent"]] = child_sum.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child_sum.get(s["id"], 0.0) for s in spans}


def layer_table(spans: list[dict]) -> list[dict]:
    """Per-layer rows: calls, total time, self time and self time's share
    of the traced wall covered by root spans."""
    selfs = self_times(spans)
    root_wall = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(layer_of(s["name"]), {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        r["calls"] += 1
        r["total_s"] += s["end"] - s["start"]
        r["self_s"] += selfs[s["id"]]
    out = []
    for layer, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        out.append(
            {
                "layer": layer,
                **r,
                "self_share": r["self_s"] / root_wall if root_wall else 0.0,
            }
        )
    return out


def check_tree(spans: list[dict]) -> None:
    """Raise if a span names a parent that was not recorded, or ends
    before it starts."""
    ids = {s["id"] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] not in ids:
            raise ValueError(f"span {s['id']} ({s['name']}) has no parent {s['parent']}")
        if s["end"] < s["start"]:
            raise ValueError(f"span {s['id']} ({s['name']}) ends before it starts")
