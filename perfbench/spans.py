"""In-memory spans and their self times.

A span is a dict with ``id``, ``parent``, ``name``, ``start`` and
``end`` (wall-clock seconds) plus free-form ``attrs``. Spans of kind
``"phase"`` tile their parent sequentially (setup, one span per key,
the steady and burst phases); spans of kind ``"event"`` (one per
micro-batch, one per tweet drop) may overlap each other and are kept
for attribution only. Self time is a span's duration minus the part of
that interval its children cover.
"""

from __future__ import annotations

import contextlib
import time


class Recorder:
    """Collects spans in memory; nothing is written until ``spans``
    is read at the end of the run."""

    def __init__(self, root: str | None = None, start: float | None = None) -> None:
        """With ``root``, open a root span starting at ``start`` that
        parents every later span until ``close``."""
        self.spans: list[dict] = []
        self._stack: list[int] = []
        if root is not None:
            self._stack.append(self.add(root, start, float("nan")))

    def close(self) -> None:
        """End the root span now."""
        self.spans[self._stack.pop()]["end"] = time.time()

    def add(
        self,
        name: str,
        start: float,
        end: float,
        parent: int | None = None,
        kind: str = "phase",
        **attrs,
    ) -> int:
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {
                "id": sid,
                "parent": parent,
                "name": name,
                "kind": kind,
                "start": start,
                "end": end,
                "attrs": attrs,
            }
        )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = self.add(name, time.time(), float("nan"), **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the union of its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def phase_coverage(spans: list[dict]) -> float:
    """Sum of the self times of the phase spans over the root's wall
    time. Phase spans tile their parents, so this is 1.0 when every
    named span nests inside its parent and siblings do not overlap;
    the run's own self time is the unattributed remainder."""
    phases = [s for s in spans if s["kind"] == "phase"]
    roots = [s for s in phases if s["parent"] is None]
    wall = sum(s["end"] - s["start"] for s in roots)
    st = self_times(phases)
    return sum(st[s["id"]] for s in phases if s["parent"] is not None) / wall


def self_by_name(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name (phase spans only)."""
    phases = [s for s in spans if s["kind"] == "phase"]
    st = self_times(phases)
    out: dict[str, float] = {}
    for s in phases:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out
