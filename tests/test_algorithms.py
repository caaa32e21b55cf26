"""Smoke tests: label propagation (exact labels), triangle counting
(exact count), knn (neighbourhood size golden), kcore-style checks."""

from __future__ import annotations

import numpy as np
import pytest

from alp_spark.algorithms import knn, label_propagation, triangle_count

from .fixtures import (
    edges_df,
    g10_line_hub,
    g_seeded_labels,
    g_triangles,
    vec_df,
)
from .oracles import knn_reach, label_propagation as lp_oracle, triangle_count as tri_oracle


def test_label_propagation_exact(spark):
    n, wedges, seeds = g_seeded_labels()
    W = edges_df(spark, wedges, val=True)
    l = 4  # first 4 vertices are seeds (FIXTURES.md)
    y0 = np.zeros(n)
    for i, v in seeds.items():
        y0[i] = v
    y = vec_df(spark, [(i, float(y0[i])) for i in range(n)])
    res = label_propagation(spark, W, y, n, l)
    want, want_iters, want_conv = lp_oracle(n, wedges, y0, l)
    got = np.zeros(n)
    for r in res.labels.collect():
        got[r["id"]] = r["val"]
    np.testing.assert_array_equal(got, want)
    assert res.converged == want_conv
    assert res.iterations == want_iters


def test_triangle_count_exact(spark):
    n, edges, expected = g_triangles()
    E = edges_df(spark, edges)
    res = triangle_count(E)
    assert res.total == expected == tri_oracle(n, edges)
    # per-vertex counts sum to 3 × total
    s = sum(r["count"] for r in res.per_vertex.collect())
    assert s == 3 * expected


def test_triangle_count_skewed_clique(spark):
    # K6 both-directions: C(6,3)=20 triangles
    und = [(i, j) for i in range(6) for j in range(6) if i != j]
    E = edges_df(spark, und)
    assert triangle_count(E).total == 20


@pytest.mark.parametrize("k", [1, 2, 3])
def test_knn_neighbourhood_size(spark, k):
    n, edges = g10_line_hub()
    E = edges_df(spark, edges)
    res = knn(spark, E, n, source=0, k=k)
    want = knn_reach(n, edges, source=0, k=k)
    got = {r["id"] for r in res.reached.collect()}
    assert got == set(np.where(want)[0].tolist())
    assert res.size == int(want.sum())


def test_kcore_decomposition(spark):
    from alp_spark.algorithms.kcore import kcore_decomposition

    from .fixtures import g_triangles

    n, edges, _ = g_triangles()
    sym = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    E = edges_df(spark, sym)
    res = kcore_decomposition(spark, E, n)
    got = {r["id"]: r["core"] for r in res.cores.collect()}
    from .oracles import kcore as kcore_oracle
    want = kcore_oracle(n, sym)
    assert [got[i] for i in range(n)] == list(want)


def test_kcore_two_components(spark):
    from alp_spark.algorithms.kcore import kcore_decomposition

    from .fixtures import g2_components

    n, edges = g2_components()  # already symmetric
    E = edges_df(spark, edges)
    res = kcore_decomposition(spark, E, n)
    got = {r["id"]: r["core"] for r in res.cores.collect()}
    from .oracles import kcore as kcore_oracle
    want = kcore_oracle(n, edges)
    assert [got[i] for i in range(n)] == list(want)


def test_kcore_hindex_and_peel_agree(spark):
    # the h-index fixpoint equals the peel oracle's coreness (module
    # docstring; Lu et al. 2016) on a graph with a deep-ish hierarchy +
    # isolated vertices
    import random

    from alp_spark.algorithms.kcore import kcore_decomposition

    rng = random.Random(7)
    n = 60
    und = {(i, (i + 1) % 40) for i in range(40)}  # cycle: core 2
    for _ in range(120):
        a, b = rng.randrange(40), rng.randrange(40)
        if a != b:
            und.add((min(a, b), max(a, b)))
    for i in range(40, 50):  # pendant chain off the cycle: core 1
        und.add((i - 1, i))
    sym = sorted({(a, b) for a, b in und} | {(b, a) for a, b in und})
    E = edges_df(spark, sym)
    hi = kcore_decomposition(spark, E, n)
    got = {r["id"]: r["core"] for r in hi.cores.collect()}
    from .oracles import kcore as kcore_oracle
    want = kcore_oracle(n, sym)
    assert [got[i] for i in range(n)] == list(want)
    assert hi.max_k == max(want)


def test_spy_matches_numpy(spark):
    # block counts must reproduce the reference's float64
    # divide-and-truncate cell mapping (spy.hpp:63-67/84-88)
    import numpy as np

    from alp_spark.algorithms import spy

    rng = np.random.RandomState(9)
    m = n = 50
    edges = {(int(rng.randint(m)), int(rng.randint(n))) for _ in range(300)}
    edges = [(a, b) for a, b in edges]
    E = edges_df(spark, edges)
    sm, sn = 7, 5
    want = np.zeros((sm, sn), dtype=np.int64)
    for i, j in edges:
        want[int(float(i) / (m / sm)), int(float(j) / (n / sn))] += 1
    got = np.zeros_like(want)
    for r in spy(E, m, n, sm, sn).collect():
        got[r["row_blk"], r["col_blk"]] = r["count"]
    np.testing.assert_array_equal(got, want)
    # normalize stores 1/count (spy.hpp:123-128)
    for r in spy(E, m, n, sm, sn, normalize=True).collect():
        assert r["val"] == 1.0 / want[r["row_blk"], r["col_blk"]]


def test_spy_reference_edges(spark):
    import pytest as _pytest

    from alp_spark.algorithms import spy

    E = edges_df(spark, [(0, 1), (1, 2), (0, 1)])
    # ILLEGAL: summary larger than input (spy.hpp:215-216)
    with _pytest.raises(ValueError):
        spy(E, 3, 3, 4, 3)
    # same-size shortcut: structural set, value 1, duplicates collapsed
    rows = {(r["row_blk"], r["col_blk"]): r["count"]
            for r in spy(E, 3, 3, 3, 3).collect()}
    assert rows == {(0, 1): 1, (1, 2): 1}


def test_sssp_matches_bellman_ford(spark):
    import numpy as np

    from alp_spark.algorithms.sssp import sssp

    rng = np.random.RandomState(5)
    n = 40
    entries = [
        (int(rng.randint(n)), int(rng.randint(n)), round(float(rng.uniform(0.1, 2.0)), 3))
        for _ in range(160)
    ]
    entries = [(s, d, w) for s, d, w in entries if s != d]
    E = edges_df(spark, entries, val=True)
    res = sssp(spark, E, n, source=0)
    from .oracles import sssp_oracle

    want, want_rounds = sssp_oracle(n, entries, 0)
    got = {r["id"]: r["val"] for r in res.dists.collect()}
    assert res.converged
    assert res.rounds == want_rounds
    for i in range(n):
        if np.isinf(want[i]):
            assert i not in got  # unreachable stays structurally absent
        else:
            assert abs(got[i] - want[i]) < 1e-12


def test_sssp_pattern_and_illegal(spark):
    import pytest as _pytest

    from alp_spark.algorithms.sssp import sssp

    E = edges_df(spark, [(0, 1), (1, 2)])
    res = sssp(spark, E, 3, source=0)
    got = {r["id"]: r["val"] for r in res.dists.collect()}
    assert got == {0: 0.0, 1: 0.0, 2: 0.0}  # pattern edges cost ring one
    with _pytest.raises(ValueError):
        sssp(spark, E, 3, source=5)


def test_personalized_pagerank_matches_numpy(spark):
    import numpy as np

    from alp_spark.algorithms.simple_pagerank import simple_pagerank
    from alp_spark.containers import vector_schema

    from .fixtures import g_dangling

    n, edges = g_dangling()
    seeds = {0: 0.7, 2: 0.3}
    tele_df = spark.createDataFrame(list(seeds.items()), vector_schema("double"))
    E = edges_df(spark, edges)
    res = simple_pagerank(
        spark, E, n, alpha=0.85, conv=0.0, max_iter=6, teleport=tele_df
    )
    got = {r["id"]: r["val"] for r in res.ranks.collect()}

    v = np.zeros(n)
    for i, w in seeds.items():
        v[i] = w
    outdeg = np.zeros(n)
    for s, d in edges:
        outdeg[s] += 1
    pr = v.copy()
    for _ in range(6):
        dangling = pr[outdeg == 0].sum()
        nxt = np.zeros(n)
        for s, d in edges:
            nxt[d] += 0.85 * pr[s] / outdeg[s]
        nxt += (0.85 * dangling + 0.15) * v
        pr = nxt
    for i in range(n):
        assert abs(got[i] - pr[i]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_ppr_uniform_teleport_equals_standard(spark):
    import numpy as np

    from alp_spark.algorithms.simple_pagerank import simple_pagerank
    from alp_spark.containers import vector_schema

    from .fixtures import g_dangling

    n, edges = g_dangling()
    E = edges_df(spark, edges)
    uni = spark.createDataFrame(
        [(i, 1.0 / n) for i in range(n)], vector_schema("double")
    )
    a = simple_pagerank(spark, E, n, conv=0.0, max_iter=4)
    b = simple_pagerank(spark, E, n, conv=0.0, max_iter=4, teleport=uni)
    ga = {r["id"]: r["val"] for r in a.ranks.collect()}
    gb = {r["id"]: r["val"] for r in b.ranks.collect()}
    np.testing.assert_allclose(
        [ga[i] for i in range(n)], [gb[i] for i in range(n)], rtol=1e-12
    )


def test_kcore_frontier_path_exact(spark, monkeypatch):
    # a zero edge gate forces frontier mode from the first eligible
    # round; coreness must match the oracle exactly, with its semi-joins
    # broadcast or not
    import random

    from alp_spark.algorithms import kcore
    from alp_spark.operators import blas2

    rng = random.Random(23)
    n = 70
    und = {(i, (i + 1) % 50) for i in range(50)}
    for _ in range(150):
        a, b = rng.randrange(50), rng.randrange(50)
        if a != b:
            und.add((min(a, b), max(a, b)))
    for i in range(50, 60):
        und.add((i - 1, i))
    sym = sorted({(a, b) for a, b in und} | {(b, a) for a, b in und})
    E = edges_df(spark, sym)
    monkeypatch.setattr(kcore, "FRONTIER_MIN_EDGES", 0)
    fr = kcore.kcore_decomposition(spark, E, n)
    got = {r["id"]: r["core"] for r in fr.cores.collect()}
    from .oracles import kcore as kcore_oracle
    want = kcore_oracle(n, sym)
    assert [got[i] for i in range(n)] == list(want)
    # a zero gate leaves both frontier semi-joins unbroadcast
    monkeypatch.setattr(blas2, "BROADCAST_NNZ_THRESHOLD", 0)
    sh = kcore.kcore_decomposition(spark, E, n)
    assert {r["id"]: r["core"] for r in sh.cores.collect()} == got
    assert sh.rounds == fr.rounds
