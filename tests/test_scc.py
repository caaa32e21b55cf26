"""SCC vs a brute-force reachability oracle."""

from __future__ import annotations

from alp_spark.algorithms.scc import strongly_connected_components

from .fixtures import edges_df


def _scc_python(n, edges):
    """Min-id SCC labels via boolean closure (small n only)."""
    reach = [[False] * n for _ in range(n)]
    for v in range(n):
        reach[v][v] = True
    for a, b in edges:
        reach[a][b] = True
    for k in range(n):
        rk = reach[k]
        for i in range(n):
            if reach[i][k]:
                ri = reach[i]
                for j in range(n):
                    if rk[j]:
                        ri[j] = True
    return {
        v: min(u for u in range(n) if reach[v][u] and reach[u][v])
        for v in range(n)
    }


def _run(spark, n, edges):
    res = strongly_connected_components(spark, edges_df(spark, edges), n)
    got = {r["id"]: r["scc"] for r in res.labels.collect()}
    assert got == _scc_python(n, edges)
    assert len(got) == n
    return res


def test_scc_two_cycles_with_bridge(spark):
    # cycle {0,1,2} -> bridge -> cycle {3,4}; tendrils 5 (in), 6 (out)
    edges = [
        (0, 1), (1, 2), (2, 0),
        (2, 3), (3, 4), (4, 3),
        (5, 0), (4, 6),
    ]
    res = _run(spark, 7, edges)
    assert res.outer_rounds >= 1


def test_scc_descending_chain_trims(spark):
    # 4 -> 3 -> 2 -> 1 -> 0: all singleton SCCs, worst case for the
    # coloring order — the trim phase must absorb it without one
    # outer round per vertex
    edges = [(4, 3), (3, 2), (2, 1), (1, 0)]
    res = _run(spark, 5, edges)
    assert res.outer_rounds == 1  # trim alone settles the chain


def test_scc_one_big_cycle_and_isolated(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    _run(spark, 6, edges)  # 4 and 5 isolated singletons


def test_scc_nested_structure(spark):
    # SCC {0,5} feeds SCC {1,2,3} (forces the multi-round color
    # handoff: 0's color covers the downstream cycle until SCC(0) is
    # assigned and removed); vertex 4 isolated
    edges = [(0, 5), (5, 0), (0, 1), (1, 2), (2, 3), (3, 1)]
    res = _run(spark, 6, edges)
    assert res.outer_rounds == 2


def test_scc_empty(spark):
    res = strongly_connected_components(spark, edges_df(spark, []), 0)
    assert res.labels.count() == 0


def test_bowtie_classes(spark):
    from alp_spark.algorithms.scc import bowtie_classes

    # core cycle {1,2,3}; 0 -> core (in); core -> 4 (out);
    # 5 -> 6 tendril off the in-branch (other); 7 isolated (other)
    edges = [
        (1, 2), (2, 3), (3, 1),
        (0, 1), (3, 4),
        (5, 0), (5, 6),
    ]
    got = {
        r["id"]: r["cls"]
        for r in bowtie_classes(spark, edges_df(spark, edges), 8).collect()
    }
    assert got == {
        0: "in", 1: "core", 2: "core", 3: "core",
        4: "out", 5: "in", 6: "other", 7: "other",
    }


def test_min_flood_shortcutting_compresses_long_cycles(spark):
    # a directed 48-cycle: without pointer-doubling the color flood
    # needs ~48 rounds (label 0 walks the cycle one hop per round);
    # with the grandparent min (f <- min(f, f[f], pushed)) the chain
    # compresses geometrically. Same fixpoint either way.
    from pyspark.sql import functions as F

    from alp_spark.algorithms.scc import _min_flood
    from alp_spark.loop import Loop

    n = 48
    edges = [(i, (i + 1) % n) for i in range(n)]
    E = edges_df(spark, edges)
    active = spark.range(n).select(F.col("id"))
    with Loop(spark, "scc") as loop:
        f, rounds = _min_flood(active, E, forward=True, loop=loop)
        got = {r["id"]: r["_f"] for r in f.collect()}
    assert got == {v: 0 for v in range(n)}
    assert rounds <= 12, f"shortcutting should beat O(n) rounds, got {rounds}"
