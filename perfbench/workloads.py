"""The benchmark workloads.

Each workload generates its input from the seed, loads it into the engine
(the set-up), then runs one *pass* of public engine calls per loop turn.
Every call is wrapped in a span; outputs are checked against exact oracles
after the pass, outside the timed region.

- ``ingest_rank``: the north-rule pipeline, all in memory. A pages table
  whose url order has web locality (copied lists, consecutive runs, a
  power-law hub) goes through link extraction into a canonical graph, the
  graph store (write + validated read), PageRank to 1e-6, connected
  components, 3 rounds of label propagation, triangle counting, and a BV
  encode + decode of the graph. Layers: extract, io, driver (in-memory
  truncation), algorithms, bvgraph.
- ``resume_durable``: a power-law graph without a hub, loaded from
  Parquet. Every iterative call commits each iteration to a checkpoint
  directory; PageRank, connected components and HyperBall are stopped
  early and resumed, SCC runs durably. Layers: graph, driver (durable
  commits and reloads, the hand-rolled SCC and HyperBall lifecycles),
  algorithms. No extraction, no codec.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import checks
import gen

# Input sizes. The closed loop runs one pass at a time; sizes keep a pass
# well under a minute on a 4-core host (per-iteration cost is dominated by
# Spark's fixed per-job cost at these sizes) and the Python oracles cheap.
# "tiny" is the smoke-test size.
SIZES = {
    "ingest_rank": {"full": 1 << 12, "tiny": 1 << 8},
    "resume_durable": {"full": 1 << 12, "tiny": 1 << 8},
}

# Both profiles are calibrated to the cnr-2000 figures in BASELINE.md:
# 9.88 arcs per node and 0.31 strongly connected components per node.
# ingest_rank also targets cnr-2000's 2.897 bits per link at the BV
# reference defaults, mostly through chained copies and intervals; its
# global in-degrees follow the exponent 2.1 measured on the web by Broder
# et al. ("Graph structure in the web", WWW 2000), whose head is the hub.
# resume_durable has no locality and the lighter exponent 3 of the
# Barabasi-Albert model, so no node gathers a hub-sized share. Realised
# figures over seeds are in README.md.
PROFILES = {
    "ingest_rank": gen.Profile(
        "ingest_rank", salt=1, nodes=0, global_deg=0.5, in_exponent=2.1,
        local_deg=0.25, local_window=128, interval_p=0.4, copy_p=0.85,
        copy_keep=0.99, dangling_p=0.17,
    ),
    "resume_durable": gen.Profile(
        "resume_durable", salt=2, nodes=0, global_deg=14.1, in_exponent=3.0,
        dangling_p=0.3,
    ),
}

LP_ITERS = 3
PR_STOP_AT = 8  # resume_durable: PageRank leg 1 stops here
CC_STOP_AT = 2
HB_MAX_ITER = 6
HB_STOP_AT = 3
HB_SAMPLE = 48


@dataclass
class Env:
    """Where a run reads and writes, and how its sessions are sized."""

    root: str  # the checkout
    work: str  # the run's own directory inside the checkout
    cores: int
    heap: str
    size: str = "full"

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def start_session(env: Env, cores: int | None = None, eventlog: str | None = None):
    """A session fitted to the host through ``get_spark(extra_conf=...)``:
    shuffle partitions = cores, driver heap below physical RAM, shuffle and
    spill files inside the checkout instead of tmpfs."""
    from webgraph_rs_spark import get_spark

    conf = {
        "spark.driver.memory": env.heap,
        "spark.local.dir": env.path("spark-local"),
        # no hsperfdata file under /tmp: all files stay in the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env.path('tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": env.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the job counts of a span come from the status tracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.eventLog.enabled": "true" if eventlog else "false",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + eventlog
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores or env.cores}]",
        shuffle_partitions=env.cores,
        extra_conf=conf,
    )


def _walls(history: list[dict], after: int = 0) -> list[float]:
    """Per-iteration walls in run order, skipping restored iterations."""
    return [
        float(m["wall_sec"])
        for m in history
        if "wall_sec" in m and m.get("iteration", 0) > after
    ]


def _iter_metrics(op: str, walls: list[float], iterations: int, jobs: int) -> dict:
    return {
        f"{op}.iterations": iterations,
        f"{op}.iter_s_p50": float(statistics.median(walls)) if walls else 0.0,
        f"{op}.iter_s_max": max(walls) if walls else 0.0,
        f"{op}.jobs": jobs,
        f"{op}.jobs_per_iter": jobs / iterations if iterations else 0.0,
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


@dataclass
class PassResult:
    metrics: dict = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    check_s: float = 0.0


class Workload:
    name = ""

    def __init__(self, env: Env, seed: int, tracer):
        self.env = env
        self.seed = seed
        self.tracer = tracer
        self.profile = PROFILES[self.name].scaled(SIZES[self.name][env.size])
        self.n = self.profile.nodes
        self.edges: np.ndarray | None = None  # the graph the engine should see
        self.g = None
        self._oracle: checks.Oracle | None = None

    # ------------------------------------------------------------ set-up
    def generate(self, spark) -> None:
        """Make the seeded input and write it as Parquet."""
        self.edges = gen.generate(self.profile, self.seed)
        gen.write_edges(self.edges, self.env.path("input", "edges.parquet"))

    def load(self, spark) -> None:
        self.g = self.load_graph(spark)

    def load_graph(self, spark):
        """The Parquet arcs as a persisted, materialized canonical graph."""
        from webgraph_rs_spark.graph import from_edges

        raw = spark.read.parquet(self.env.path("input", "edges.parquet"))
        g = from_edges(spark, raw, num_nodes=self.n).persist()
        g.num_arcs  # materializes the canonical layout in the cache
        return g

    def unload(self) -> None:
        if self.g is not None:
            self.g.unpersist()
            self.g = None

    # ------------------------------------------------------------ checks
    @property
    def oracle(self) -> checks.Oracle:
        if self._oracle is None:
            self._oracle = checks.Oracle(self.n, self.edges)
        return self._oracle

    def input_properties(self) -> dict:
        props = gen.properties(self.n, self.edges)
        props["scc_share"] = len(np.unique(self.oracle.scc)) / self.n
        return props

    # ------------------------------------------------------------ a pass
    def run_pass(self, spark, k: int) -> PassResult:
        res = PassResult()
        pending = self.timed(spark, k, res)
        t0 = time.monotonic()
        for name, fn in pending:
            self._check(res, name, fn)
        res.check_s = time.monotonic() - t0
        return res

    def timed(self, spark, k: int, res: PassResult) -> list:
        """Run the pass's calls; return the checks as (name, fn) pairs."""
        raise NotImplementedError

    def _op(self, res: PassResult, name: str, fn):
        """Run one public call in a span; an exception counts as failed."""
        res.attempted += 1
        with self.tracer.span(name) as sp:
            try:
                return sp, fn()
            except Exception:  # noqa: BLE001 - the benchmark keeps counting
                traceback.print_exc(file=sys.stderr)
                res.failures.append(f"{name}: exception")
                return sp, None

    @staticmethod
    def _collect(res: PassResult, name: str, df, *cols):
        """Bring an output to the driver for its check, outside the timed
        region; an exception counts as a failed op and returns None."""
        try:
            return df.select(*cols).toPandas()
        except Exception as e:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            res.failures.append(f"{name}: collect raised {type(e).__name__}: {e}")
            return None

    @staticmethod
    def _check(res: PassResult, name: str, fn) -> None:
        """Run one output check; a failed check counts as a failed op."""
        try:
            msg = fn()
        except Exception as e:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            msg = f"check raised {type(e).__name__}: {e}"
        if msg:
            res.failures.append(f"{name}: {msg}")


class IngestRank(Workload):
    name = "ingest_rank"

    def generate(self, spark) -> None:
        """Pages whose url order carries the generated locality.

        The engine numbers pages by sorted url, so the generated arcs are
        drawn over url ranks and planted on the node whose url has that
        rank: the ingested graph is then exactly ``self.edges``.
        """
        from webgraph_rs_spark.pages import synthesize_pages, url_for

        self.edges = gen.generate(self.profile, self.seed)
        node_at = np.array(sorted(range(self.n), key=url_for), dtype=np.int64)
        path = gen.write_edges(node_at[self.edges], self.env.path("input", "edges.parquet"))
        pages = synthesize_pages(spark, spark.read.parquet(path), self.n)
        pages.write.mode("overwrite").parquet(self.env.path("input", "pages.parquet"))

    def load(self, spark) -> None:
        self.pages = spark.read.parquet(self.env.path("input", "pages.parquet"))
        self.pages.count()

    def timed(self, spark, k: int, res: PassResult) -> list:
        from pyspark.sql import functions as F

        from webgraph_rs_spark.algorithms import (
            connected_components,
            label_propagation,
            pagerank,
            triangle_count,
        )
        from webgraph_rs_spark.bvgraph import read_bvgraph, write_bvgraph
        from webgraph_rs_spark.driver import release_state
        from webgraph_rs_spark.extract import (
            build_graph_from_pages,
            extract_pages,
            verify_extraction,
        )
        from webgraph_rs_spark.io import read_graph, write_graph

        pages, m, n, o = self.pages, res.metrics, self.n, self.oracle
        out = self.env.path("out", f"pass{k}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, "bv"))
        todo: list = []

        # ---- extract: the Arrow UDF alone, then pages -> canonical graph
        sp, ex = self._op(res, "extract.extract_pages", lambda: extract_pages(pages).agg(
            F.count(F.lit(1)).alias("pages"), F.sum(F.size("links")).alias("links")
        ).collect()[0])
        if ex:
            m["extract.udf_pages_per_s"] = ex["pages"] / sp.seconds

        def build():
            # the url dictionary stays cached: the vertex set is a view of it
            g, self.urls = build_graph_from_pages(spark, pages)
            g.edges.persist()
            g.num_arcs  # materializes the canonical edges in the cache
            return g

        sp_b, g = self._op(res, "extract.build_graph", build)
        if g:
            m["extract.build_graph_s"] = sp_b.seconds
            if ex:
                m["extract.kept_links_ratio"] = g.num_arcs / max(ex["links"], 1)
            extracted = self._collect(res, "extract.arcs", g.edges, "src", "dst")
            if extracted is not None:
                todo.append(("extract.arcs", lambda: checks.arcs(
                    "extracted", extracted.to_numpy(np.int64), self.edges)))

        sp, bad = self._op(res, "extract.verify", lambda: verify_extraction(pages).count())
        if bad is not None:
            m["extract.verify_s"] = sp.seconds
            todo.append(("extract.verify", lambda: bad and f"verify_extraction: {bad} rows"))

        # ---- io: graph store write, then the analytics read it back
        g2 = None
        if g:
            sp, man = self._op(res, "io.write_graph", lambda: write_graph(
                g, os.path.join(out, "graph")))
            g.edges.unpersist()
            self.urls.unpersist()
            if man:
                m["io.write_graph_s"] = sp.seconds
                m["io.graph_bytes"] = _dir_bytes(os.path.join(out, "graph"))
                m["ingest_pages_per_s"] = n / (sp_b.seconds + sp.seconds)

                def read_back():
                    g2 = read_graph(spark, os.path.join(out, "graph"), validate=True).persist()
                    g2.edges.count()  # materializes the cached graph
                    g2.vertices.count()
                    return g2

                sp, g2 = self._op(res, "io.read_graph", read_back)
        if g2:
            m["io.read_graph_s"] = sp.seconds
            todo.append(("io.read_graph", lambda: g2.num_arcs != len(self.edges)
                         and f"read back {g2.num_arcs} arcs, planted {len(self.edges)}"))
        g = self.g = g2

        # ---- algorithms on the stored graph, in memory (driver truncation)
        if g:
            sp, pr = self._op(res, "algorithms.pagerank", lambda: pagerank(g, threshold=1e-6))
            if pr:
                m["pagerank_s"] = sp.seconds
                m.update(_iter_metrics("pagerank", _walls(pr.metrics_history),
                                       pr.iterations, sp.jobs))
                ranks = self._collect(res, "pagerank", pr.ranks, "id", "rank")
                release_state(pr.ranks)
                if ranks is not None:
                    todo.append(("pagerank", lambda: checks.pagerank(
                        o, checks.to_array(ranks, n, np.float64))))
            sp, cc = self._op(res, "algorithms.components", lambda: connected_components(g))
            if cc:
                m["components_s"] = sp.seconds
                m.update(_iter_metrics("components", _walls(cc.metrics_history),
                                       cc.iterations, sp.jobs))
                comp = self._collect(res, "components", cc.labels, "id", "label")
                release_state(cc.labels)
                if comp is not None:
                    todo.append(("components", lambda: checks.exact(
                        "components", checks.to_array(comp, n, np.int64), o.components)))
            sp, lp = self._op(res, "algorithms.labelprop",
                              lambda: label_propagation(g, max_iter=LP_ITERS))
            if lp:
                m["labelprop_s"] = sp.seconds
                m.update(_iter_metrics("labelprop", _walls(lp.metrics_history),
                                       lp.iterations, sp.jobs))
                lab = self._collect(res, "labelprop", lp.labels, "id", "label")
                release_state(lp.labels)
                if lab is not None:
                    todo.append(("labelprop", lambda: checks.exact(
                        "labelprop", checks.to_array(lab, n, np.int64), o.labelprop(LP_ITERS))))
            sp, tri = self._op(res, "algorithms.triangles", lambda: triangle_count(g))
            if tri is not None:
                m["triangles_s"] = sp.seconds
                todo.append(("triangles", lambda: checks.triangles(o, tri)))

        # ---- bvgraph: encode at reference defaults, decode its own output
        basename = os.path.join(out, "bv", "graph")
        stats = g3 = None
        if g:
            sp, stats = self._op(res, "bvgraph.encode", lambda: write_bvgraph(spark, g, basename))
        if stats:
            arcs = stats["arcs"]
            m["bvgraph.encode_s"] = sp.seconds
            m["bv_encode_arcs_per_s"] = arcs / sp.seconds
            m["bvgraph.encode_arcs_per_s_core"] = arcs / sp.seconds / self.env.cores
            m["bits_per_link"] = stats["bits_per_link"]
            m["bvgraph.avgref"] = stats["avgref"]
            m["bvgraph.avgdist"] = stats["avgdist"]
            m["bvgraph.max_resident_payload"] = stats["max_resident_payload"]

            def decode():
                g3 = read_bvgraph(spark, basename)
                return g3.edges.toPandas().to_numpy(np.int64)

            sp, g3 = self._op(res, "bvgraph.decode", decode)
        if g3 is not None:
            m["bvgraph.decode_s"] = sp.seconds
            m["bv_decode_arcs_per_s"] = stats["arcs"] / sp.seconds
            m["bvgraph.decode_arcs_per_s_core"] = stats["arcs"] / sp.seconds / self.env.cores
            todo.append(("bvgraph.decode", lambda: checks.arcs("decoded", g3, self.edges)))
        self.unload()
        shutil.rmtree(out, ignore_errors=True)
        return todo


class ResumeDurable(Workload):
    name = "resume_durable"

    def timed(self, spark, k: int, res: PassResult) -> list:
        from webgraph_rs_spark.algorithms import (
            connected_components,
            hyperball,
            pagerank,
            strongly_connected_components,
        )
        from webgraph_rs_spark.algorithms.distances import HLL_LG_K
        from webgraph_rs_spark.driver import CheckpointStore, release_state

        g, m, n, o = self.g, res.metrics, self.n, self.oracle
        ck = self.env.path("ckpt", f"pass{k}")
        shutil.rmtree(ck, ignore_errors=True)
        todo: list = []
        resume_s = 0.0

        # PageRank: stopped at PR_STOP_AT, then resumed to 1e-6
        sp1, pr1 = self._op(res, "algorithms.pagerank", lambda: pagerank(
            g, threshold=1e-6, max_iter=PR_STOP_AT, checkpoint_dir=ck))
        sp2, pr = self._op(res, "algorithms.pagerank", lambda: pagerank(
            g, threshold=1e-6, checkpoint_dir=ck))
        if pr1 and pr:
            release_state(pr1.ranks)
            resume_s += sp2.seconds
            m["pagerank_s"] = sp1.seconds + sp2.seconds
            resumed = _walls(pr.metrics_history, pr.resumed_from or 0)
            m.update(_iter_metrics("pagerank", _walls(pr1.metrics_history) + resumed,
                                   pr.iterations, sp1.jobs + sp2.jobs))
            m["driver.redone_iters"] = pr1.iterations - (pr.resumed_from or 0)
            m["driver.resume_first_iter_s"] = resumed[0] if resumed else 0.0
            ranks = self._collect(res, "pagerank.resumed", pr.ranks, "id", "rank")
            release_state(pr.ranks)
            if ranks is not None:
                todo.append(("pagerank.resumed", lambda: checks.pagerank(
                    o, checks.to_array(ranks, n, np.float64))))

        # connected components: stopped at CC_STOP_AT, then resumed
        sp1, cc1 = self._op(res, "algorithms.components", lambda: connected_components(
            g, max_iter=CC_STOP_AT, checkpoint_dir=ck))
        sp2, cc = self._op(res, "algorithms.components", lambda: connected_components(
            g, checkpoint_dir=ck))
        if cc1 and cc:
            release_state(cc1.labels)
            resume_s += sp2.seconds
            m["components_s"] = sp1.seconds + sp2.seconds
            walls = _walls(cc1.metrics_history) + _walls(cc.metrics_history, cc.resumed_from or 0)
            m.update(_iter_metrics("components", walls, cc.iterations, sp1.jobs + sp2.jobs))
            comp = self._collect(res, "components.resumed", cc.labels, "id", "label")
            release_state(cc.labels)
            if comp is not None:
                todo.append(("components.resumed", lambda: checks.exact(
                    "components", checks.to_array(comp, n, np.int64), o.components)))

        sp, scc = self._op(res, "algorithms.scc", lambda: strongly_connected_components(
            g, checkpoint_dir=ck))
        if scc:
            m["scc_s"] = sp.seconds
            sccs = self._collect(res, "scc", scc.labels, "id", "label")
            release_state(scc.labels)
            if sccs is not None:
                todo.append(("scc", lambda: checks.exact(
                    "scc", checks.to_array(sccs, n, np.int64), o.scc)))

        # HyperBall: stopped at HB_STOP_AT, then resumed to HB_MAX_ITER
        sp1, hb1 = self._op(res, "algorithms.hyperball", lambda: hyperball(
            g, max_iter=HB_STOP_AT, checkpoint_dir=ck, checkpoint_every=1))
        sp2, hb = self._op(res, "algorithms.hyperball", lambda: hyperball(
            g, max_iter=HB_MAX_ITER, checkpoint_dir=ck, checkpoint_every=1))
        if hb1 and hb:
            release_state(hb1.centralities)
            resume_s += sp2.seconds
            m["hyperball_s"] = sp1.seconds + sp2.seconds
            walls = [e["wall_ms"] / 1000.0 for e in CheckpointStore(ck, "hyperball").manifest()]
            m.update(_iter_metrics("hyperball", walls, hb.iterations, sp1.jobs + sp2.jobs))
            est = self._collect(res, "hyperball.resumed", hb.centralities, "id", "reachable_est")
            release_state(hb.centralities)
            sample = np.random.default_rng([self.seed, 99]).choice(
                n, size=min(HB_SAMPLE, n), replace=False)
            radius = hb.iterations
            if est is not None:
                todo.append(("hyperball.resumed", lambda: checks.hyperball(
                    o, checks.to_array(est, n, np.float64), radius, HLL_LG_K, sample)))

        m["resume_s"] = resume_s
        jobs = os.listdir(ck) if os.path.isdir(ck) else []
        m["driver.commits"] = sum(
            1 for j in jobs for e in CheckpointStore(ck, j).manifest() if e.get("complete")
        )
        m["driver.checkpoint_bytes"] = _dir_bytes(ck)
        shutil.rmtree(ck, ignore_errors=True)
        return todo


WORKLOADS = {w.name: w for w in (IngestRank, ResumeDurable)}
