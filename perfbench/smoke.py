"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

1. The event-log parser on a small recorded log (``fixtures/``) gives the
   pinned profile.
2. Outside a complete checkout the benchmark exits non-zero and prints no
   result.
3. Every workload runs at the tiny size with tracing on, all its checks
   pass and it reports exactly the per-layer metrics of ``BENCHMARK.json``;
   one workload also runs untraced and reports exactly the end-to-end
   metrics.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

FIXTURE_LOG = os.path.join(HERE, "fixtures", "eventlog.jsonl")
FIXTURE_SPANS = os.path.join(HERE, "fixtures", "spans.json")
# profile of the recorded log: "agg" is a grouped count (one shuffle),
# "join" a shuffled join of two ranges
PINNED = {
    "agg": {"stages": 2, "shuffle_read_bytes": 992, "shuffle_write_bytes": 992,
            "spill_bytes": 0, "gc_s": 0.156, "task_skew": 1.0048465266558966,
            "driver_gap_s": 3.33292555809021},
    "join": {"stages": 4, "shuffle_read_bytes": 54544, "shuffle_write_bytes": 54544,
             "spill_bytes": 0, "gc_s": 0.032, "task_skew": 1.1119008092965346,
             "driver_gap_s": 0.39895200729370117},
}


def check_parser() -> None:
    assert eventlog._covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == 3.0
    stages = eventlog.read_stages(FIXTURE_LOG)
    with open(FIXTURE_SPANS, encoding="utf-8") as f:
        spans = json.load(f)["spans"]
    for name, want in PINNED.items():
        got = eventlog.profile(stages, [s for s in spans if s["name"] == name])
        assert got.keys() == want.keys(), (name, got)
        for k, v in want.items():
            assert math.isclose(got[k], v, rel_tol=1e-9), (name, k, got[k], v)
    print("parser: ok")


def check_incomplete_checkout() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "ingest_rank", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=180, check=False,
        )
    assert out.returncode != 0 and not out.stdout.strip(), out
    print("incomplete checkout: exit", out.returncode)


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_workloads() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    for trace, names, workloads in (
        (1, [m["name"] for m in spec["per_layer"]], [w["name"] for w in spec["workloads"]]),
        (0, [m["name"] for m in spec["end_to_end"]], ["resume_durable"]),
    ):
        for w in workloads:
            res = run(w, trace)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, (w, res)
            assert list(res["metrics"]) == names, (w, sorted(set(names) ^ set(res["metrics"])))
            print(f"{w} trace={trace}: {res['attempted']} ops ok")


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    check_parser()
    check_incomplete_checkout()
    check_workloads()
    print("smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
