"""Output checks, run outside the timed region.

Exact answers come from the repository's own pure-Python oracles
(``tests/oracles.py``), imported rather than copied, and are computed at
most once per run (the input of a run is fixed by its seed).
"""

from __future__ import annotations

import functools
import math
from collections import deque

import numpy as np

import oracles  # tests/oracles.py, put on sys.path by run.py

PAGERANK_ATOL = 1e-6
# 5 standard errors of an HLL counter with 2^lg_k registers (1.04/sqrt(m))
HLL_SIGMAS = 5.0


class Oracle:
    """Lazily computed exact answers for one ``(n, edges)`` input."""

    def __init__(self, n: int, edges: np.ndarray):
        self.n = n
        self.edges = edges
        self.pairs = [tuple(e) for e in edges.tolist()]
        self._lp: dict[int, np.ndarray] = {}

    @functools.cached_property
    def pagerank(self) -> np.ndarray:
        return oracles.pagerank_power(self.n, self.pairs, tol=1e-10)

    @functools.cached_property
    def components(self) -> np.ndarray:
        return oracles.union_find_components(self.n, self.pairs)

    @functools.cached_property
    def triangles(self) -> int:
        return oracles.brute_triangles(self.n, self.pairs)

    @functools.cached_property
    def scc(self) -> np.ndarray:
        return oracles.kosaraju_scc(self.n, self.pairs)

    def labelprop(self, iters: int) -> np.ndarray:
        if iters not in self._lp:
            self._lp[iters] = oracles.label_propagation_sync(self.n, self.pairs, iters)
        return self._lp[iters]

    @functools.cached_property
    def _succ(self) -> list[np.ndarray]:
        indptr = np.searchsorted(self.edges[:, 0], np.arange(self.n + 1))
        return [self.edges[indptr[v] : indptr[v + 1], 1] for v in range(self.n)]

    def ball_size(self, v: int, radius: int) -> int:
        """|B(v, radius)|: nodes reachable from ``v`` in <= radius arcs."""
        seen = {v}
        frontier = deque([(v, 0)])
        while frontier:
            u, d = frontier.popleft()
            if d == radius:
                continue
            for w in self._succ[u].tolist():
                if w not in seen:
                    seen.add(w)
                    frontier.append((w, d + 1))
        return len(seen)


def to_array(pdf, n: int, dtype) -> np.ndarray:
    """A collected ``(id, value)`` frame as a dense array indexed by id."""
    if len(pdf) != n or pdf.iloc[:, 0].nunique() != n:
        raise ValueError(f"{len(pdf)} rows for {n} nodes")
    out = np.empty(n, dtype=dtype)
    out[pdf.iloc[:, 0].to_numpy()] = pdf.iloc[:, 1].to_numpy()
    return out


def pagerank(o: Oracle, ranks: np.ndarray) -> str | None:
    err = float(np.abs(ranks - o.pagerank).max())
    if err > PAGERANK_ATOL:
        return f"pagerank max abs error {err:.3g} > {PAGERANK_ATOL}"
    return None


def exact(what: str, got: np.ndarray, want: np.ndarray) -> str | None:
    bad = int((got != want).sum())
    return f"{what}: {bad} of {len(want)} nodes differ" if bad else None


def triangles(o: Oracle, got: int) -> str | None:
    return None if got == o.triangles else f"triangles {got} != {o.triangles}"


def hyperball(o: Oracle, est: np.ndarray, radius: int, lg_k: int, sample: np.ndarray) -> str | None:
    """Every sampled node's ball estimate within the sketch's error bound."""
    tol = HLL_SIGMAS * 1.04 / math.sqrt(2**lg_k)
    worst = 0.0
    for v in sample.tolist():
        want = o.ball_size(v, radius)
        worst = max(worst, abs(est[v] - want) / want)
    if worst > tol:
        return f"hyperball worst relative error {worst:.3g} > {tol:.3g}"
    return None


def arcs(what: str, got: np.ndarray, want: np.ndarray) -> str | None:
    """Exact arc-set equality of two ``(m, 2)`` arrays (any row order)."""
    g = np.unique(got, axis=0) if len(got) else got.reshape(0, 2)
    if len(g) != len(got):
        return f"{what}: {len(got) - len(g)} duplicate arcs"
    if len(g) != len(want) or not np.array_equal(g, want):
        return f"{what}: arc set differs ({len(g)} arcs vs {len(want)} planted)"
    return None
