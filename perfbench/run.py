"""Link-graph benchmark: one workload, one fresh process, one closed loop.

Usage::

    python3 perfbench/run.py --workload ingest_rank --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, a table

Run from the root of a checkout. A run:

1. sets up once, from a cold start: a new JVM and session, the seeded
   input's generation (Parquet) and its load into the engine; ``setup_s``
   times all of it;
2. runs passes of the workload back to back (one client, one call at a
   time) until ``--seconds`` have passed, at least one pass;
3. checks every output of every pass against exact oracles outside the
   timed region; an exception or a failed check counts as a failed op;
4. prints per-pass lines, then as its last line one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
   metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
   with ``--trace 1``).

``--trace 1`` turns the Spark event log on for the traced session, makes
exactly one pass, parses the log offline per span, and adds
``trace.overhead_s`` (against an untraced run of the same seed, made at
the end in a child process) and, for ``ingest_rank``,
``pagerank.scaling_eff``.

All other files go to ``.perfbench_work/<workload>-<pid>/``, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# PageRank iterations of each scaling leg: one lineage-truncation window
# (4 iterations when a threshold is set), so both legs' medians cover the
# same sawtooth; far fewer than convergence needs
SCALING_ITERS = 4
SCALING_WORKLOAD = "ingest_rank"
# ops whose event-log profile the traced run reports, by span name
TRACED_OPS = {
    "extract.build_graph": "extract.build_graph",
    "bvgraph.encode": "bvgraph.encode",
    "bvgraph.decode": "bvgraph.decode",
    "pagerank": "algorithms.pagerank",
    "components": "algorithms.components",
    "labelprop": "algorithms.labelprop",
    "triangles": "algorithms.triangles",
    "scc": "algorithms.scc",
    "hyperball": "algorithms.hyperball",
}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A quarter of physical RAM, at most 4 GiB."""
    with open("/proc/meminfo", encoding="utf-8") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(512, min(4096, kb // 1024 // 4))}m"


def prepare_env(work: str) -> None:
    """Environment the Spark JVM and its Python workers inherit."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median_metrics(passes: list[dict]) -> dict:
    keys = {k for p in passes for k in p}
    return {k: float(statistics.median(p[k] for p in passes if k in p)) for k in keys}


class Run:
    def __init__(self, args, env):
        from spans import Tracer
        from workloads import WORKLOADS

        self.args, self.env = args, env
        self.tracer = Tracer()
        self.wl = WORKLOADS[args.workload](env, args.seed, self.tracer)
        self.spark = None
        self.eventlog = env.path("eventlog") if args.trace else None
        self.attempted = 0
        self.failures: list[str] = []

    def restart(self, cores: int | None = None, eventlog: str | None = None):
        from workloads import start_session

        if self.spark is not None:
            self.tracer.unbind()
            self.spark.stop()
        with self.tracer.span("session.start") as sp:
            self.spark = start_session(self.env, cores, eventlog)
            self.tracer.bind(self.spark)
        return sp

    def setup(self) -> dict:
        """A cold start: a new JVM and session, the seeded input's
        generation (Parquet) and its load into the engine. Each run is a
        fresh process, so ``setup_s`` pays the JVM launch every time."""
        with self.tracer.span("setup") as sp:
            start = self.restart(eventlog=self.eventlog)
            with self.tracer.span("input.generate"):
                self.wl.generate(self.spark)
            with self.tracer.span("graph.load") as ld:
                self.wl.load(self.spark)
        return {"setup_s": sp.seconds, "session.start_s": start.seconds,
                "graph.load_s": ld.seconds}

    def one_pass(self, label: str, k: int) -> dict:
        with self.tracer.span(label) as sp:
            res = self.wl.run_pass(self.spark, k)
        ops = [s for s in self.tracer.spans if s.parent == sp.id]
        res.metrics["job_s"] = sum(s.seconds for s in ops)
        self.attempted += res.attempted
        self.failures += res.failures
        print(json.dumps({"pass": label, "k": k, "check_s": res.check_s, "failures": res.failures,
                          "metrics": res.metrics}), flush=True)
        return res.metrics

    def passes(self) -> list[dict]:
        out, t0 = [], time.monotonic()
        while not out or time.monotonic() - t0 < self.args.seconds:
            out.append(self.one_pass("pass", len(out)))
        return out

    def profile(self) -> dict:
        """Stop the traced session (flushing its event log) and map the
        log's stages onto the spans of the traced pass."""
        import eventlog

        self.wl.unload()
        self.tracer.unbind()
        self.spark.stop()
        self.spark = None
        stages = [st for f in sorted(os.listdir(self.eventlog))
                  for st in eventlog.read_stages(os.path.join(self.eventlog, f))]
        traced = self.tracer.find("pass.traced")[0]
        out = {}
        for op, span_name in TRACED_OPS.items():
            spans = [vars(s) for s in self.tracer.find(span_name, under=traced)]
            for fam, v in eventlog.profile(stages, spans).items():
                out[f"{op}.{fam}"] = v
        return out

    def scaling(self) -> dict:
        """PageRank at local[nproc] and at local[1], same shuffle partitions,
        both warm and untraced; efficiency from median iteration walls,
        never from minimums."""
        from webgraph_rs_spark.algorithms import pagerank
        from webgraph_rs_spark.driver import release_state

        medians = {}
        for cores in (self.env.cores, 1):
            self.restart(cores=cores)
            g = self.wl.load_graph(self.spark)
            with self.tracer.span("algorithms.pagerank", cores=cores):
                pr = pagerank(g, threshold=1e-6, max_iter=SCALING_ITERS)
            medians[cores] = statistics.median(
                h["wall_sec"] for h in pr.metrics_history if "wall_sec" in h
            )
            release_state(pr.ranks)
            g.unpersist()
        return {"pagerank.scaling_eff": medians[1] / (self.env.cores * medians[self.env.cores])}

    def untraced_job_s(self) -> float:
        """``job_s`` of an untraced run of the same seed, made now in a
        child process, once this run's session and JVM have stopped."""
        self.tracer.unbind()
        stop_spark(self.spark)
        self.spark = None
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", self.args.workload,
             "--seed", str(self.args.seed), "--seconds", str(self.args.seconds),
             "--trace", "0", "--size", self.args.size],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        )
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            self.failures.append("trace.overhead_s: untraced reference run failed its checks")
        return res["metrics"]["job_s"]["value"]

    def execute(self) -> dict:
        t0 = time.monotonic()
        setup = self.setup()
        t1 = time.monotonic()
        passes = [self.one_pass("pass.traced", 0)] if self.args.trace else self.passes()
        t2 = time.monotonic()
        metrics = median_metrics(passes)
        metrics.update(setup)
        props = self.wl.input_properties()
        print(json.dumps({"workload": self.args.workload, "seed": self.args.seed,
                          "passes": len(passes), "input": props,
                          "wall_s": {"setup": t1 - t0, "passes": t2 - t1}}), flush=True)
        if not self.args.trace:
            return metrics
        metrics.update(self.profile())
        metrics.update({f"graph.{k}": v for k, v in props.items()})
        t3 = time.monotonic()
        if self.args.workload == SCALING_WORKLOAD:
            metrics.update(self.scaling())
        t4 = time.monotonic()
        metrics["trace.overhead_s"] = metrics["job_s"] - self.untraced_job_s()
        print(json.dumps({"wall_s": {"profile": t3 - t2, "scaling": t4 - t3,
                                     "reference": time.monotonic() - t4}}), flush=True)
        return metrics

    def close(self) -> None:
        if self.spark is not None:
            try:
                self.wl.unload()
            except Exception:  # noqa: BLE001 - tearing down after a failure
                pass
        stop_spark(self.spark)
        self.spark = None


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def report(args) -> int:
    """Every workload once, one after another; a table of end-to-end metrics."""
    spec = load_spec()
    rows = []
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
               "--size", args.size]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, check=False, text=True)
        if out.returncode != 0:
            print(f"{w['name']}: exit code {out.returncode}", file=sys.stderr)
            return out.returncode
        res = json.loads(out.stdout.strip().splitlines()[-1])
        rows.append((w["name"], res))
    for name, res in rows:
        err = res["failed"] / res["attempted"]
        print(f"{name}: correct={res['correct']} error_rate={err:.4f} "
              f"({res['failed']}/{res['attempted']} ops)")
        for k, v in res["metrics"].items():
            print(f"  {k:<14} {v['value']:>12.4f} {v['unit']}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("BENCHMARK.json", "webgraph_rs_spark/__init__.py", "tests/oracles.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a complete checkout, missing {missing}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return report(args)
    spec = load_spec()
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    from workloads import Env

    env = Env(ROOT, work, host_cores(), driver_heap(), args.size)
    run = Run(args, env)
    try:
        measured = run.execute()
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    failed = min(len(run.failures), run.attempted)
    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"perfbench: {args.workload} wall {time.monotonic() - t_start:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
