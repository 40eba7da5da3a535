"""In-memory spans recorded from the benchmark's side of each layer boundary.

A span is (id, name, start, end, parent). Spans are kept in a list and
written out once, at exit. Calls made inside the engine (checkpoint writes,
the hub-degree probe) are timed by wrapping the instance method or module
function the engine looks up at call time; the wrappers are removed again
when the traced job ends. Per-superstep spans are derived from the
``wall_ms`` the engine reports for each superstep.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path
from typing import Any


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self._open(name, attrs)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def _open(self, name: str, attrs: dict) -> dict[str, Any]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    def wrap(self, fn, name: str, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        return traced

    @contextmanager
    def patched(self, module, attr: str, name: str, on_result=None):
        """Time every call the engine makes to ``module.attr`` while the
        block runs."""
        orig = getattr(module, attr)
        setattr(module, attr, self.wrap(orig, name, on_result))
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def instrument_checkpoint(self, ckpt) -> None:
        for meth in ("save", "resume", "last_metrics"):
            setattr(ckpt, meth, self.wrap(getattr(ckpt, meth), f"checkpoint.{meth}"))

    def supersteps(self, call: dict[str, Any], metrics: list[dict[str, Any]]) -> None:
        """Child spans of a PageRank call, one per superstep, from the
        engine's ``wall_ms``. A superstep ends where the checkpoint save of
        the same superstep starts; without checkpointing the supersteps are
        laid back to back, ending where the call ends."""
        saves = [
            s for s in self.spans
            if s["name"] == "checkpoint.save" and s["parent"] == call["id"]
        ]
        end = call["end"]
        for i in range(len(metrics) - 1, -1, -1):
            if len(saves) == len(metrics):
                end = saves[i]["start"]
            start = end - metrics[i]["wall_ms"] / 1000.0
            self.spans.append({
                "id": len(self.spans),
                "name": "pagerank.superstep",
                "parent": call["id"],
                "start": start,
                "end": end,
                "superstep": metrics[i]["superstep"],
                "derived": True,
            })
            end = start

    # -- derived figures ------------------------------------------------------
    def durations(self, name: str, since: int = 0) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: Path, origin: float, extra: dict[str, Any]) -> None:
        """Write every span (times in s from ``origin``) with its self time,
        and per-name totals."""
        selfs = self.self_times()
        spans = [
            {**s, "start": s["start"] - origin, "end": s["end"] - origin, "self": selfs[s["id"]]}
            for s in self.spans
        ]
        by_name: dict[str, dict[str, float]] = {}
        for s in spans:
            agg = by_name.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += s["self"]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "by_name": by_name, "spans": spans}, indent=1))


class NullTracer(Tracer):
    """Tracing off: the job runs without wrappers or span records."""

    def span(self, name: str, **attrs):
        return nullcontext({})

    def patched(self, module, attr: str, name: str, on_result=None):
        return nullcontext()

    def instrument_checkpoint(self, ckpt) -> None:
        pass

    def supersteps(self, call, metrics) -> None:
        pass
