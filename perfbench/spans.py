"""Module-layer spans for the traced run.

The tracer wraps named public functions of the package. Each call becomes
a span (name, start, end, parent, job, rows in/out); a DataFrame the call
returns is persisted and counted inside its span, so the work of that
layer runs inside that layer's span rather than in whichever later action
happens to trigger it. Spans are kept in memory and written at the end.
"""

from __future__ import annotations

import contextlib
import functools
import time

from pyspark.sql import DataFrame


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.job: str | None = None
        self._stack: list[int] = []
        self._rows: dict[int, int] = {}  # id(DataFrame) -> counted rows
        self._keep: list = []  # keeps counted frames alive so ids stay unique
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, rows_in: int | None = None):
        rec = {"id": len(self.spans), "name": name, "job": self.job,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "rows_in": rows_in, "rows_out": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _materialize(self, value, rec: dict):
        frames = value if isinstance(value, tuple) else (value,)
        if not all(isinstance(f, DataFrame) for f in frames):
            return value
        out = []
        for f in frames:
            f = f.persist()
            self._rows[id(f)] = f.count()
            self._keep.append(f)
            out.append(f)
        rec["rows_out"] = sum(self._rows[id(f)] for f in out)
        return tuple(out) if isinstance(value, tuple) else out[0]

    def traced(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            ins = [self._rows.get(id(a)) for a in (*args, *kwargs.values())
                   if isinstance(a, DataFrame)]
            rows_in = sum(ins) if ins and None not in ins else None
            with self.span(name, rows_in) as rec:
                return self._materialize(fn(*args, **kwargs), rec)
        return wrapper

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a traced wrapper until ``unwrap``."""
        orig = getattr(module, attr)
        self._undo.append((module, attr, orig))
        setattr(module, attr, self.traced(orig, name))

    def unwrap(self) -> None:
        while self._undo:
            module, attr, orig = self._undo.pop()
            setattr(module, attr, orig)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def check_tree(spans: list[dict]) -> list[str]:
    """Violations of a well-formed span tree: every span closed, children
    inside their parent and of the same job, siblings not overlapping,
    self time >= 0."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            bad.append(f"span {s['id']} {s['name']} not closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            bad.append(f"span {s['id']} {s['name']} has unknown parent")
        elif p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]
                                    and p["job"] == s["job"]):
            bad.append(f"span {s['id']} {s['name']} outside parent {p['name']}")
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for group in kids.values():
        group = sorted(group, key=lambda s: s["start"])
        for a, b in zip(group, group[1:]):
            if a["end"] is not None and b["start"] < a["end"]:
                bad.append(f"spans {a['id']} and {b['id']} overlap")
    for sid, t in self_times([s for s in spans if s["end"] is not None]).items():
        if t < 0:
            bad.append(f"span {sid} {by_id[sid]['name']} has self time {t:.6f} < 0")
    return bad
