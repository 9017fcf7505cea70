"""Seeded input generator for the link-graph benchmark.

Every input is a pure function of ``(profile, seed)``: NumPy draws from
``default_rng([seed, profile.salt])``, so the same seed gives the same arcs
on any host. The engine never sees the generator, only the Parquet it
writes (``edges.parquet`` with ``src long, dst long``).

Node ids play the part of url order. Each non-dangling node's successor
list is the union of up to four sources, each switched by the profile:

- *global* targets drawn from a Zipf popularity over a random permutation
  of the nodes, so in-degrees follow a power law of exponent
  ``in_exponent`` without id locality;
- *local* targets within ``local_window`` ids of the source;
- *intervals*: runs of consecutive ids (what the BV encoder stores as
  intervals);
- *copies*: part of the final list of one of the previous ``COPY_WINDOW``
  nodes, taken in id order so that copies chain (the copying model of
  Kumar et al., "Stochastic models for the web graph", FOCS 2000; what the
  BV encoder stores as references).

The profiles in ``workloads.py`` are calibrated against the cnr-2000 web
crawl figures kept in the repository (BASELINE.md): 9.88 arcs per node,
2.897 bits per link at the BV reference defaults, and 100,977 strongly
connected components in 325,557 nodes (0.31 per node). :func:`properties`
measures what the generator actually produced, so a run records how much
of its input has each property.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

COPY_WINDOW = 7  # the BV encoder's reference window at reference defaults
ALPHA = 0.85
PR_THRESHOLD = 1e-6


@dataclass(frozen=True)
class Profile:
    name: str
    salt: int
    nodes: int
    global_deg: float  # mean global targets per non-dangling node
    in_exponent: float = 2.1  # power-law exponent of the global in-degrees
    local_deg: float = 0.0  # mean local targets per non-dangling node
    local_window: int = 64
    interval_p: float = 0.0  # share of nodes with a consecutive run
    interval_len: tuple[int, int] = (4, 12)
    copy_p: float = 0.0  # share of nodes copying part of a previous list
    copy_keep: float = 0.8
    dangling_p: float = 0.05  # share of nodes with no out-links

    def scaled(self, nodes: int) -> "Profile":
        return Profile(**{**self.__dict__, "nodes": nodes})


def _ranges(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, s + l)`` for every (s, l) pair."""
    total = int(lengths.sum())
    offs = np.arange(total) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    return np.repeat(starts, lengths) + offs


def _global_targets(p: Profile, rng, size: int) -> np.ndarray:
    """Zipf ranks with P(rank r) ~ r^(-1/(in_exponent - 1)), the Zipf
    exponent whose rank-size law gives in-degrees a power-law
    distribution of exponent ``in_exponent``."""
    n = p.nodes
    w = np.arange(1, n + 1, dtype=np.float64) ** (-1.0 / (p.in_exponent - 1.0))
    cdf = np.cumsum(w)
    return np.minimum(np.searchsorted(cdf, rng.random(size) * cdf[-1]), n - 1)


def generate(p: Profile, seed: int) -> np.ndarray:
    """Sorted, deduplicated, loop-free ``(m, 2)`` int64 arc array."""
    rng = np.random.default_rng([seed, p.salt])
    n = p.nodes
    ids = np.arange(n, dtype=np.int64)
    perm = rng.permutation(n).astype(np.int64)
    dangling = rng.random(n) < p.dangling_p
    srcs, dsts = [], []

    k = rng.poisson(p.global_deg, n)
    s = np.repeat(ids, k)
    srcs.append(s)
    dsts.append(perm[_global_targets(p, rng, s.size)])

    if p.local_deg:
        k = rng.poisson(p.local_deg, n)
        s = np.repeat(ids, k)
        off = rng.integers(1, p.local_window + 1, s.size)
        off = np.where(rng.random(s.size) < 0.5, off, -off)
        srcs.append(s)
        dsts.append((s + off) % n)

    if p.interval_p:
        s = ids[rng.random(n) < p.interval_p]
        lo, hi = p.interval_len
        lengths = rng.integers(lo, hi + 1, s.size)
        starts = s + rng.integers(1, p.local_window + 1, s.size)
        srcs.append(np.repeat(s, lengths))
        dsts.append(_ranges(starts, lengths) % n)

    src, dst = np.concatenate(srcs), np.concatenate(dsts)
    order = np.argsort(src, kind="stable")
    src, dst = src[order], dst[order]
    indptr = np.searchsorted(src, np.arange(n + 1))
    ref = ids - rng.integers(1, COPY_WINDOW + 1, n)
    copies = (rng.random(n) < p.copy_p) & (ref >= 0)

    lists: list[np.ndarray] = []
    for x in range(n):
        if dangling[x]:
            lists.append(dst[:0])
            continue
        own = dst[indptr[x] : indptr[x + 1]]
        if copies[x]:
            parent = lists[ref[x]]
            own = np.concatenate([own, parent[rng.random(parent.size) < p.copy_keep]])
        own = np.unique(own)
        lists.append(own[own != x])
    out_deg = np.array([len(s) for s in lists], dtype=np.int64)
    if not out_deg.sum():
        return np.empty((0, 2), dtype=np.int64)
    return np.stack([np.repeat(ids, out_deg), np.concatenate(lists)], axis=1)


def pagerank_iterations(n: int, edges: np.ndarray) -> int:
    """Power-method iterations until the engine's stop rule fires
    (``alpha / (1 - alpha) * l1_delta <= 1e-6``, uniform preference,
    dangling mass redistributed uniformly)."""
    src, dst = edges[:, 0], edges[:, 1]
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    inv = np.divide(1.0, out_deg, out=np.zeros(n), where=~dangling)
    x = np.full(n, 1.0 / n)
    coef = ALPHA / (1.0 - ALPHA)
    for it in range(1, 1001):
        contrib = np.bincount(dst, weights=(x * inv)[src], minlength=n)
        new = (1.0 - ALPHA) / n + ALPHA * (contrib + x[dangling].sum() / n)
        delta = np.abs(new - x).sum()
        x = new
        if coef * delta <= PR_THRESHOLD:
            return it
    return 1000


def properties(n: int, edges: np.ndarray) -> dict:
    """Realised input properties of an arc array from :func:`generate`."""
    m = len(edges)
    src, dst = edges[:, 0], edges[:, 1]
    in_deg = np.bincount(dst, minlength=n)
    keys = src * n + dst  # sorted, since edges are sorted by (src, dst)
    # successor equal to the previous successor + 1 (interval material)
    consecutive = np.isin(keys - 1, keys) & (dst > 0)
    # arc also present in one of the previous COPY_WINDOW lists
    copied = np.zeros(m, dtype=bool)
    for delta in range(1, COPY_WINDOW + 1):
        copied |= (src >= delta) & np.isin(keys - delta * n, keys)
    return {
        "nodes": n,
        "arcs": m,
        "max_in_deg": int(in_deg.max()) if m else 0,
        "hub_share": float(in_deg.max() / m) if m else 0.0,
        "dangling_share": float((np.bincount(src, minlength=n) == 0).mean()),
        "consecutive_share": float(consecutive.mean()) if m else 0.0,
        "copied_share": float(copied.mean()) if m else 0.0,
        "pr_iters": pagerank_iterations(n, edges),
    }


def write_edges(edges: np.ndarray, path: str) -> str:
    """Write the arcs as a single-file Parquet table (``src, dst`` int64)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table({"src": edges[:, 0], "dst": edges[:, 1]})
    pq.write_table(table, path)
    return path
