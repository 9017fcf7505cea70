"""Re-record the small event log the smoke test parses.

    python3 perfbench/fixtures/record.py

Runs two tiny traced jobs ("agg": a grouped count, "join": a shuffled
join) in a session with the event log on, then keeps only the events and
fields ``eventlog.py`` reads, so the fixture stays small and carries no
host paths. After re-recording, update ``PINNED`` in ``smoke.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

from run import ROOT, driver_heap, host_cores, prepare_env, stop_spark  # noqa: E402

KEEP = {
    "SparkListenerStageSubmitted": lambda ev: {
        "Stage Info": _pick(ev["Stage Info"], "Stage ID", "Stage Attempt ID"),
        "Properties": _pick(ev.get("Properties") or {}, "perfbench.span"),
    },
    "SparkListenerTaskEnd": lambda ev: {
        **_pick(ev, "Stage ID", "Stage Attempt ID"),
        "Task Metrics": {
            **_pick(ev["Task Metrics"], "Executor Run Time", "JVM GC Time",
                    "Memory Bytes Spilled", "Disk Bytes Spilled"),
            "Shuffle Read Metrics": _pick(ev["Task Metrics"]["Shuffle Read Metrics"],
                                          "Remote Bytes Read", "Local Bytes Read"),
            "Shuffle Write Metrics": _pick(ev["Task Metrics"]["Shuffle Write Metrics"],
                                           "Shuffle Bytes Written"),
        },
    },
    "SparkListenerStageCompleted": lambda ev: {
        "Stage Info": _pick(ev["Stage Info"], "Stage ID", "Stage Attempt ID",
                            "Number of Tasks", "Submission Time", "Completion Time"),
    },
}


def _pick(d: dict, *keys: str) -> dict:
    return {k: d[k] for k in keys if k in d}


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", "record")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    from pyspark.sql import functions as F

    from spans import Tracer
    from workloads import Env, start_session

    env = Env(ROOT, work, host_cores(), driver_heap())
    log_dir = env.path("eventlog")
    spark = start_session(env, eventlog=log_dir)
    tracer = Tracer("fixture")
    tracer.bind(spark)
    try:
        with tracer.span("agg"):
            spark.range(10_000).groupBy((F.col("id") % 10).alias("k")).count().collect()
        with tracer.span("join"):
            a = spark.range(5_000)
            b = spark.range(0, 10_000, 2)
            a.join(b.hint("shuffle_hash"), "id").count()
    finally:
        tracer.unbind()
        spark.stop()
        stop_spark(None)
    (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    with open(log, encoding="utf-8") as src, open(
        os.path.join(HERE, "eventlog.jsonl"), "w", encoding="utf-8"
    ) as dst:
        for line in src:
            ev = json.loads(line)
            keep = KEEP.get(ev.get("Event"))
            if keep:
                dst.write(json.dumps({"Event": ev["Event"], **keep(ev)}) + "\n")
    tracer.dump(os.path.join(HERE, "spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
