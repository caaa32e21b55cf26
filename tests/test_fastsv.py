"""FastSV connected components vs a union-find oracle.

The flood CC (pregel_connected_components.hpp) is diameter-bound; FastSV
(Zhang/Azad/Buluc SIAM PP 2020) is the O(log n)-round at-scale path.
Labels here are component MIN vertex id (hooking is min-wise)."""

from __future__ import annotations

import numpy as np

from alp_spark.algorithms import fastsv_components

from .fixtures import edges_df, g2_components, g497_powerlaw


def uf_min_labels(n: int, edges) -> np.ndarray:
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    roots = [find(i) for i in range(n)]
    # min id per component
    comp_min = {}
    for i, r in enumerate(roots):
        comp_min[r] = min(comp_min.get(r, i), i)
    return np.array([comp_min[r] for r in roots], dtype=np.int64)


def labels_arr(df, n):
    out = np.zeros(n, dtype=np.int64)
    for r in df.collect():
        out[r["id"]] = r["label"]
    return out


def sym(edges):
    return sorted({(u, v) for u, v in edges} | {(v, u) for u, v in edges})


def test_fastsv_two_components(spark):
    n, edges = g2_components()
    res = fastsv_components(spark, edges_df(spark, sym(edges)), n)
    np.testing.assert_array_equal(labels_arr(res.labels, n), uf_min_labels(n, edges))


def test_fastsv_isolated_vertices(spark):
    edges = [(0, 1), (2, 3), (3, 4)]
    n = 7  # 5, 6 isolated
    res = fastsv_components(spark, edges_df(spark, sym(edges)), n)
    got = labels_arr(res.labels, n)
    np.testing.assert_array_equal(got, uf_min_labels(n, edges))
    assert got[5] == 5 and got[6] == 6


def test_fastsv_path_beats_diameter(spark):
    # a 64-vertex path: flood needs ~diameter rounds; FastSV must be
    # logarithmic. Bound generously at 2*log2(n)+4 = 16.
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    res = fastsv_components(spark, edges_df(spark, sym(edges)), n)
    got = labels_arr(res.labels, n)
    np.testing.assert_array_equal(got, np.zeros(n, dtype=np.int64))
    assert res.rounds <= 16, f"FastSV took {res.rounds} rounds on a 63-hop path"


def test_fastsv_powerlaw(spark):
    n, edges = g497_powerlaw(n=97)
    res = fastsv_components(spark, edges_df(spark, sym(edges)), n)
    np.testing.assert_array_equal(labels_arr(res.labels, n), uf_min_labels(n, edges))

