"""In-memory spans around the benchmark's calls into the library.

Every span is also a Spark job group (its id) while it is open, so the
event log of a traced run attributes each Spark job to the innermost span
that issued it (see eventlog.py). Spans are kept in memory and written
out once, when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from eventlog import union_length


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        """Record a span timed elsewhere (e.g. before Spark existed)."""
        rec = self._new(name, attrs)
        rec["start"], rec["end"] = start, end
        return rec

    def _new(self, name: str, attrs: dict) -> dict:
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            **attrs,
        }
        self.spans.append(rec)
        return rec

    def _set_group(self) -> None:
        if self.sc is None:
            return
        if self._open:
            top = self._open[-1]
            self.sc.setJobGroup(top["id"], top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self._new(name, attrs)
        self._open.append(rec)
        self._set_group()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._set_group()


def add_self_times(spans: list[dict]) -> None:
    """Set ``wall_s`` and ``self_s`` on every span, in place: self time is
    the wall time minus the part covered by the span's direct children."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        wall = s["end"] - s["start"]
        covered = union_length(kids.get(s["id"], []), s["start"], s["end"])
        s["wall_s"] = wall
        s["self_s"] = wall - covered
