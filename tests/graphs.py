"""Golden graph fixtures (FIXTURES.md §3) as plain edge lists.

Each returns (edges: list[(u, v, w)], n_vertices). Deterministic, seeded.
"""

from __future__ import annotations

import itertools

import numpy as np


def g_two_triangles():
    """Two triangles joined by one bridge edge (6 nodes)."""
    e = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (3, 4, 1.0), (4, 5, 1.0), (3, 5, 1.0), (2, 3, 1.0)]
    return e, 6


def g_two_cliques(k: int = 5):
    """K5 + K5 + single bridge, weights 1.0 — well-separated communities."""
    e = [(a, b, 1.0) for a, b in itertools.combinations(range(k), 2)]
    e += [(a + k, b + k, 1.0) for a, b in itertools.combinations(range(k), 2)]
    e += [(k - 1, k, 1.0)]
    return e, 2 * k


def g_weighted_split():
    """4 nodes where weighted vs unweighted Louvain differ.

    Path 0-1-2-3: unweighted prefers {0,1},{2,3}; with the heavy middle
    edge, weighted prefers {1,2} together. Pins the reference's
    weight-attribute mismatch semantics (SURVEY.md §2.8).
    """
    e = [(0, 1, 1.0), (1, 2, 10.0), (2, 3, 1.0)]
    return e, 4


def g_ring_of_cliques(k: int = 8, c: int = 5):
    """k cliques of size c in a ring — classic Louvain test."""
    e = []
    for i in range(k):
        base = i * c
        e += [(base + a, base + b, 1.0) for a, b in itertools.combinations(range(c), 2)]
        nxt = ((i + 1) % k) * c
        e.append((base, nxt, 1.0))
    # canonicalize ring closure edges (u < v)
    e = [(min(u, v), max(u, v), w) for u, v, w in e]
    return sorted(set(e)), k * c


def g_star_hub(n_leaves: int = 500, n_random: int = 50, seed: int = 7):
    """1 hub + leaves + a few random leaf-leaf edges — skew fixture."""
    rng = np.random.RandomState(seed)
    e = [(0, i, 1.0) for i in range(1, n_leaves + 1)]
    for _ in range(n_random):
        u, v = rng.randint(1, n_leaves + 1, size=2)
        if u != v:
            e.append((min(u, v), max(u, v), 1.0))
    return sorted(set(e)), n_leaves + 1


def g_disconnected():
    """3 components incl. an isolated vertex (id 6)."""
    e = [(0, 1, 1.0), (1, 2, 1.0), (3, 4, 2.0), (4, 5, 1.0)]
    return e, 7  # vertex 6 isolated


def g_empty_edges():
    return [], 4


def g_empty():
    """No vertices, no edges."""
    return [], 0


def g_single_vertex():
    """One isolated vertex."""
    return [], 1


def g_self_loops_only():
    """Four vertices, each with only a self-loop (weights differ)."""
    return [(i, i, float(i + 1)) for i in range(4)], 4


def g_duplicate_both_orientations():
    """A path and a triangle whose pairs repeat as (u, v) and (v, u)."""
    e = [(0, 1, 1.0), (1, 0, 1.0), (1, 2, 2.0), (2, 1, 1.0), (1, 2, 1.0)]
    e += [(3, 4, 1.0), (4, 5, 1.0), (5, 3, 1.0), (4, 3, 3.0)]
    return e, 6


def g_zero_weight():
    """Zero-weight edges beside weighted ones; vertex 4's only edge has
    weight 0, and vertex 2 has a zero-weight and a weighted edge."""
    e = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 0.0), (3, 0, 2.0), (4, 0, 0.0)]
    return e, 5


def g_zero_out_strength():
    """Vertices 3 and 4 share one edge of weight 0: both have out-strength
    0, which PageRank treats as dangling."""
    return [(0, 1, 1.0), (1, 2, 1.0), (3, 4, 0.0)], 5


def g_hub_10k():
    """A hub with 10k leaves and a few leaf-leaf edges."""
    return g_star_hub(n_leaves=10_000, n_random=50)


def g_random(n: int, p: float, seed: int, weighted: bool = False):
    """Erdős–Rényi-ish random graph, deterministic in seed."""
    rng = np.random.RandomState(seed)
    e = []
    for u in range(n):
        for v in range(u + 1, n):
            if rng.rand() < p:
                w = float(rng.randint(1, 5)) if weighted else 1.0
                e.append((u, v, w))
    return e, n


def to_nx(edges, n):
    import networkx as nx

    g = nx.Graph()
    g.add_nodes_from(range(n))
    for u, v, w in edges:
        g.add_edge(u, v, weight=w)
    return g
