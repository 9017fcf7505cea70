from __future__ import annotations

import numpy as np
import pytest

from tests.oracles import (
    brute_triangles,
    canonical8,
    clique_cycle,
    erdos_renyi,
    label_propagation_sync,
    triangles_per_vertex_brute,
)
from webgraph_rs_spark.graph import graph_from_pandas
from webgraph_rs_spark.algorithms import (
    label_propagation,
    triangle_count,
    triangles_per_vertex,
)


def _labels_array(labels_df, n):
    out = np.zeros(n, dtype=np.int64)
    for r in labels_df.collect():
        out[r["id"]] = r["label"]
    return out


@pytest.mark.parametrize("iters", [1, 3, 5])
def test_labelprop_matches_sync_oracle(spark, iters):
    n, edges = erdos_renyi(60, 0.08, seed=4)
    g = graph_from_pandas(spark, edges, n)
    res = label_propagation(g, max_iter=iters)
    expected = label_propagation_sync(n, edges, iters)
    assert (_labels_array(res.labels, n) == expected).all()


def test_labelprop_resume_checkpoint_without_frontier_columns(spark, tmp_path):
    """A checkpoint written before the ``_chg``/``_prop`` columns existed
    holds only (id, label); the first round after a resume rescans in
    full, so the resumed run still equals the synchronous oracle."""
    from webgraph_rs_spark.driver import CheckpointStore

    n, edges = erdos_renyi(60, 0.08, seed=4)
    g = graph_from_pandas(spark, edges, n)
    ck = str(tmp_path / "lp_old")
    at2 = label_propagation_sync(n, edges, 2)
    old_state = spark.createDataFrame(
        [(i, int(lab)) for i, lab in enumerate(at2)], "id long, label long"
    )
    CheckpointStore(ck, "lp").write(old_state, 2, {"modified": n}, 1.0)
    res = label_propagation(g, max_iter=5, checkpoint_dir=ck, job="lp")
    assert res.resumed_from == 2
    expected = label_propagation_sync(n, edges, 5)
    assert (_labels_array(res.labels, n) == expected).all()


def test_labelprop_two_cliques_communities(spark):
    # two 6-cliques joined by one edge -> two communities at convergence
    k = 6
    e1 = [(i, j) for i in range(k) for j in range(k) if i != j]
    e2 = [(i + k, j + k) for i, j in e1]
    edges = e1 + e2 + [(0, k)]
    g = graph_from_pandas(spark, edges, 2 * k)
    res = label_propagation(g, max_iter=20)
    lab = _labels_array(res.labels, 2 * k)
    assert len(set(lab[:k])) == 1
    assert len(set(lab[k:])) == 1


def test_triangles_canonical8_zero(spark):
    n, edges = canonical8()
    g = graph_from_pandas(spark, edges, n)
    # reference fixture graph: FIXTURES.md pins triangles = 0 for the
    # *directed* interpretation; undirected closure has some — use oracle
    assert triangle_count(g) == brute_triangles(n, edges)


def test_triangles_clique_closed_form(spark):
    k = 8
    n, edges = clique_cycle(k, 10, bridge="none")
    g = graph_from_pandas(spark, edges, n)
    # C(k,3) triangles from the clique, none from the cycle
    assert triangle_count(g) == k * (k - 1) * (k - 2) // 6


@pytest.mark.parametrize("n,p,seed", [(30, 0.3, 0), (100, 0.08, 1)])
def test_triangles_er_vs_brute(spark, n, p, seed):
    nn, edges = erdos_renyi(n, p, seed)
    g = graph_from_pandas(spark, edges, nn)
    assert triangle_count(g) == brute_triangles(nn, edges)


def test_triangles_per_vertex(spark):
    nn, edges = erdos_renyi(40, 0.2, seed=5)
    g = graph_from_pandas(spark, edges, nn)
    got = np.zeros(nn, dtype=np.int64)
    for r in triangles_per_vertex(g).collect():
        got[r["id"]] = r["triangles"]
    assert (got == triangles_per_vertex_brute(nn, edges)).all()


def test_triangles_ignore_direction_and_loops(spark):
    # triangle with mixed directions + self loop + reciprocal edge
    edges = [(0, 1), (1, 0), (2, 1), (0, 2), (3, 3)]
    g = graph_from_pandas(spark, edges, 4)
    assert triangle_count(g) == 1


def test_half_damping_breaks_bipartite_oscillation(spark):
    """Synchronous (Jacobi) majority-vote LP 2-cycles on complete
    bipartite graphs: every left node adopts the right side's majority
    label and vice versa, forever. The reference's asynchronous
    randomized sweep (llp/mod.rs:301-311) cannot do this;
    damping="half" is the synchronous analogue — it must reach a true
    fixpoint (zero proposals) well before max_iter, and the undamped
    run must demonstrate the oscillation this guards against."""
    from webgraph_rs_spark.graph import graph_from_pandas
    from webgraph_rs_spark.algorithms.labelprop import label_propagation

    left, right = range(0, 6), range(6, 12)
    edges = [(a, b) for a in left for b in right]
    g = graph_from_pandas(spark, edges, 12)

    undamped = label_propagation(g, max_iter=12)
    assert undamped.metrics_history[-1]["modified"] > 0  # still flapping

    damped = label_propagation(g, max_iter=40, damping="half")
    assert damped.metrics_history[-1]["modified"] == 0
    assert damped.iterations < 40
    # fixpoint is a real labeling over the original label universe
    labs = {r["label"] for r in damped.labels.collect()}
    assert labs <= set(range(12)) and len(labs) >= 1


def test_half_damping_matches_undamped_on_nonoscillating_graph(spark):
    """On a graph where plain sync LP already converges, damping must
    reach a fixpoint too (possibly a different, but valid, one) —
    and gamma=0 semantics (majority vote) are preserved."""
    from webgraph_rs_spark.graph import graph_from_pandas
    from webgraph_rs_spark.algorithms.labelprop import label_propagation

    # two triangles joined by one edge: clear community structure
    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)]
    g = graph_from_pandas(spark, edges, 6)
    res = label_propagation(g, max_iter=30, damping="half")
    assert res.metrics_history[-1]["modified"] == 0
