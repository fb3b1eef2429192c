"""Golden graph fixtures (FIXTURES.md §3).

Each fixture returns (undirected_edge_list, nv) where the edge list holds
each undirected edge ONCE as (u, v, w). Use ``symmetric_rows`` to expand
to the engine's symmetric representation (both directions, self-loops
once) — the same convention as the oracle.
"""

from __future__ import annotations

import itertools

# Zachary's karate club (public dataset; 34 vertices / 78 edges, 0-based).
# The reference ships the same graph as a Metis file (karate.graph) and
# runs it as its manual determinism harness (run1.sh).
_KARATE_1BASED = [
    (2, 1), (3, 1), (3, 2), (4, 1), (4, 2), (4, 3), (5, 1), (6, 1), (7, 1),
    (7, 5), (7, 6), (8, 1), (8, 2), (8, 3), (8, 4), (9, 1), (9, 3), (10, 3),
    (11, 1), (11, 5), (11, 6), (12, 1), (13, 1), (13, 4), (14, 1), (14, 2),
    (14, 3), (14, 4), (17, 6), (17, 7), (18, 1), (18, 2), (20, 1), (20, 2),
    (22, 1), (22, 2), (26, 24), (26, 25), (28, 3), (28, 24), (28, 25),
    (29, 3), (30, 24), (30, 27), (31, 2), (31, 9), (32, 1), (32, 25),
    (32, 26), (32, 29), (33, 3), (33, 9), (33, 15), (33, 16), (33, 19),
    (33, 21), (33, 23), (33, 24), (33, 30), (33, 31), (33, 32), (34, 9),
    (34, 10), (34, 14), (34, 15), (34, 16), (34, 19), (34, 20), (34, 21),
    (34, 23), (34, 24), (34, 27), (34, 28), (34, 29), (34, 30), (34, 31),
    (34, 32), (34, 33),
]


def karate():
    edges = [(u - 1, v - 1, 1.0) for u, v in _KARATE_1BASED]
    return edges, 34


def two_cliques_bridge(k: int = 5):
    """Two K_k cliques joined by a single bridge edge."""
    edges = []
    for a, b in itertools.combinations(range(k), 2):
        edges.append((a, b, 1.0))
    for a, b in itertools.combinations(range(k, 2 * k), 2):
        edges.append((a, b, 1.0))
    edges.append((0, k, 1.0))
    return edges, 2 * k


def star_hub(n_leaves: int = 1000):
    """Vertex 0 is the hub; leaves 1..n."""
    return [(0, i, 1.0) for i in range(1, n_leaves + 1)], n_leaves + 1


def path_n(n: int = 10):
    return [(i, i + 1, 1.0) for i in range(n - 1)], n


def grid3d(n: int = 4):
    """n^3 grid, 27-point stencil (all neighbors within Chebyshev dist 1),
    per the reference's 3D-grid generator (driverForGenerating3DGrids.cpp).
    """
    def vid(x, y, z):
        return (x * n + y) * n + z

    edges = []
    for x in range(n):
        for y in range(n):
            for z in range(n):
                u = vid(x, y, z)
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        for dz in (-1, 0, 1):
                            if dx == dy == dz == 0:
                                continue
                            x2, y2, z2 = x + dx, y + dy, z + dz
                            if 0 <= x2 < n and 0 <= y2 < n and 0 <= z2 < n:
                                v = vid(x2, y2, z2)
                                if u < v:
                                    edges.append((u, v, 1.0))
    return edges, n ** 3


def disconnected():
    """3 components: a triangle, an edge pair, and 2 isolated vertices."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (3, 4, 1.0)]
    return edges, 7


def weighted_two_triangles():
    """Small weighted graph: two triangles joined by a weak edge."""
    edges = [
        (0, 1, 3.0), (1, 2, 3.0), (0, 2, 3.0),
        (3, 4, 2.0), (4, 5, 2.0), (3, 5, 2.0),
        (2, 3, 1.0),
    ]
    return edges, 6


ALL_FIXTURES = {
    "karate": karate,
    "two_cliques_bridge": two_cliques_bridge,
    "star_hub": lambda: star_hub(100),
    "path_n": path_n,
    "grid3d": grid3d,
    "disconnected": disconnected,
    "weighted_two_triangles": weighted_two_triangles,
}


def symmetric_rows(undirected_edges):
    """Expand unique undirected edges to symmetric rows (self-loops once)."""
    rows = []
    for u, v, w in undirected_edges:
        rows.append((int(u), int(v), float(w)))
        if u != v:
            rows.append((int(v), int(u), float(w)))
    return rows


def to_spark_edges(spark, undirected_edges):
    """Symmetric edge DataFrame from an undirected fixture edge list."""
    from .session import local_table

    return local_table(spark, symmetric_rows(undirected_edges),
                       "src long, dst long, weight double")


def erdos_renyi(n, p_millis, seed):
    """Deterministic pseudo-random graph (LCG, no external libs) — the
    generator behind the tests/golden er_* fixtures."""
    edges = []
    state = seed
    for u in range(n):
        for v in range(u + 1, n):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            if (state >> 33) % 1000 < p_millis:
                edges.append((u, v, 1.0))
    return edges, n


GOLDEN_CASES = {
    "karate": lambda: karate(),
    "two_cliques_bridge": lambda: two_cliques_bridge(),
    "star_hub_100": lambda: star_hub(100),
    "path_10": lambda: path_n(10),
    "grid3d_4": lambda: grid3d(4),
    "er_200_50": lambda: erdos_renyi(200, 50, 12345),
    "er_500_20": lambda: erdos_renyi(500, 20, 99),
    "er_1000_5": lambda: erdos_renyi(1000, 5, 7),
}
