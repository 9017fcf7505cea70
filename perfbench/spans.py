"""Spans around the benchmark's calls into the engine.

A :class:`Tracer` records one span per call: name, start, end, parent and
the number of Spark jobs the call ran. All spans of one run share the run
id, which is also the Spark job group; each span's id is set as the local
property ``perfbench.span`` so that the Spark event log (traced runs only)
ties every job and stage back to the span that launched it.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float = 0.0  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    seconds: float = 0.0  # from the monotonic clock
    jobs: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._jobs_before = 0  # jobs of the run's earlier sessions

    def bind(self, spark) -> None:
        """Attach to a (new) session: later spans tag its jobs."""
        self._sc = spark.sparkContext
        self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, span: Span | None) -> None:
        if self._sc is None:
            return
        self._sc.setJobGroup(self.run_id, span.name if span else "perfbench")
        self._sc.setLocalProperty(SPAN_PROPERTY, span.id if span else "")

    def _job_count(self) -> int:
        """Jobs of the run so far, across its sessions."""
        if self._sc is None:
            return self._jobs_before
        return self._jobs_before + len(self._sc.statusTracker().getJobIdsForGroup(self.run_id))

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}-{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        jobs0 = self._job_count()
        sp.start, t0 = time.time(), time.monotonic()
        try:
            yield sp
        finally:
            sp.end, sp.seconds = time.time(), time.monotonic() - t0
            sp.jobs = self._job_count() - jobs0
            self._stack.pop()
            self._tag(parent)

    def unbind(self) -> None:
        """Detach before the session stops."""
        self._jobs_before = self._job_count()
        self._sc = None

    def find(self, name: str, under: Span | None = None) -> list[Span]:
        """Spans called ``name``, optionally only descendants of ``under``."""
        out = [s for s in self.spans if s.name == name]
        if under is None:
            return out
        return [s for s in out if self.is_under(s, under)]

    def is_under(self, s: Span, root: Span) -> bool:
        by_id = {x.id: x for x in self.spans}
        while s is not None:
            if s.id == root.id:
                return True
            s = by_id.get(s.parent) if s.parent else None
        return False

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, "spans": [asdict(s) for s in self.spans]}, f)
