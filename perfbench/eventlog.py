"""Offline Spark event-log parser: stages and tasks per benchmark span.

A traced run sets ``spark.eventLog.enabled`` and tags every job with the
local property ``perfbench.span`` (see ``spans.py``). This module reads the
JSON-lines log after the session stopped and, for each op (a set of spans),
reports:

- ``stages``: stages that ran (skipped stages are never submitted);
- ``shuffle_read_bytes`` / ``shuffle_write_bytes`` / ``spill_bytes``
  (disk bytes spilled), summed over the op's tasks;
- ``gc_s``: JVM GC time summed over the op's tasks;
- ``task_skew``: max / median task run time per stage, averaged over the
  op's stages weighted by each stage's total task time;
- ``driver_gap_s``: span wall not covered by any running stage of the
  span, i.e. driver-side planning and scheduling.

Run ``python3 perfbench/eventlog.py <log> <spans.json>`` to print the
profile of every span name in a recorded run.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
FAMILIES = (
    "stages",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "task_skew",
    "driver_gap_s",
)


@dataclass
class Stage:
    span: str
    submitted: float = 0.0  # epoch seconds
    completed: float = 0.0
    run_ms: list[float] = field(default_factory=list)
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def read_stages(path: str) -> list[Stage]:
    """Stages of the log that completed, with their task aggregates."""
    stages: dict[tuple[int, int], Stage] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                props = ev.get("Properties") or {}
                stages[key] = Stage(span=props.get(SPAN_PROPERTY, ""))
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                tm = ev.get("Task Metrics")
                if st is None or not tm:
                    continue
                st.run_ms.append(float(tm.get("Executor Run Time", 0)))
                st.gc_ms += float(tm.get("JVM GC Time", 0))
                sr = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_read += int(sr.get("Remote Bytes Read", 0)) + int(
                    sr.get("Local Bytes Read", 0)
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                st.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
                st.spill += int(tm.get("Disk Bytes Spilled", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.get((info["Stage ID"], info.get("Stage Attempt ID", 0)))
                if st is not None:
                    st.submitted = info.get("Submission Time", 0) / 1000.0
                    st.completed = info.get("Completion Time", 0) / 1000.0
    return [s for s in stages.values() if s.completed]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
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


def profile(stages: list[Stage], spans: list[dict]) -> dict:
    """The event-log families of one op, given the op's spans (dicts with
    ``id``, ``start`` and ``end`` in epoch seconds)."""
    ids = {s["id"] for s in spans}
    mine = [s for s in stages if s.span in ids]
    out = dict.fromkeys(FAMILIES, 0)
    out["stages"] = len(mine)
    out["shuffle_read_bytes"] = sum(s.shuffle_read for s in mine)
    out["shuffle_write_bytes"] = sum(s.shuffle_write for s in mine)
    out["spill_bytes"] = sum(s.spill for s in mine)
    out["gc_s"] = sum(s.gc_ms for s in mine) / 1000.0
    weight = skew = 0.0
    for s in mine:
        total = sum(s.run_ms)
        med = statistics.median(s.run_ms) if s.run_ms else 0.0
        if len(s.run_ms) > 1 and med > 0:
            skew += total * max(s.run_ms) / med
            weight += total
    out["task_skew"] = skew / weight if weight else float(bool(mine))
    gap = 0.0
    for sp in spans:
        own = [(s.submitted, s.completed) for s in mine if s.span == sp["id"]]
        gap += (sp["end"] - sp["start"]) - _covered(own, sp["start"], sp["end"])
    out["driver_gap_s"] = gap
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    stages = read_stages(argv[1])
    with open(argv[2], encoding="utf-8") as f:
        spans = json.load(f)["spans"]
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    for name, group in sorted(by_name.items()):
        print(json.dumps({"span": name, "calls": len(group), **profile(stages, group)}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
