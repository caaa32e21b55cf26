"""MIS, graph coarsening + weighted PageRank, and local clustering
coefficients vs brute-force / NumPy oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from alp_spark.algorithms.coarsen import coarsen_edges
from alp_spark.algorithms.mis import (
    PRIO_MOD,
    PRIO_MULT,
    maximal_independent_set,
)
from alp_spark.algorithms.simple_pagerank import simple_pagerank
from alp_spark.algorithms.triangles import local_clustering

from .fixtures import edges_df


def _sym(pairs):
    out = set()
    for a, b in pairs:
        out.add((a, b))
        out.add((b, a))
    return sorted(out)


# path 0-1-2-3, triangle 4-5-6 (4-5, 5-6, 4-6), isolated 7
UND = _sym([(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (4, 6)])
N = 8


def test_mis_independent_maximal_deterministic(spark):
    res = maximal_independent_set(spark, edges_df(spark, UND), N)
    mis = {r["id"] for r in res.members.collect()}
    adj = {}
    for a, b in UND:
        adj.setdefault(a, set()).add(b)
    # independence: no edge inside the set
    assert all(not (adj.get(a, set()) & mis) for a in mis)
    # maximality: every outside vertex has a member neighbour
    assert all(adj.get(v, set()) & mis for v in range(N) if v not in mis)
    # isolated vertex always enters
    assert 7 in mis
    # deterministic: a second run returns the identical set
    res2 = maximal_independent_set(spark, edges_df(spark, UND), N)
    assert {r["id"] for r in res2.members.collect()} == mis
    assert res.rounds >= 1


def test_mis_matches_greedy_by_priority(spark):
    """The parallel rounds compute exactly the sequential greedy MIS
    in priority order (the lexicographically-first MIS under p)."""
    res = maximal_independent_set(spark, edges_df(spark, UND), N)
    mis = {r["id"] for r in res.members.collect()}
    adj = {}
    for a, b in UND:
        adj.setdefault(a, set()).add(b)
    greedy, blocked = set(), set()
    for v in sorted(range(N), key=lambda v: (v * PRIO_MULT) % PRIO_MOD):
        if v not in blocked:
            greedy.add(v)
            blocked |= adj.get(v, set()) | {v}
    assert mis == greedy


def test_mis_empty_graph_takes_all(spark):
    e = edges_df(spark, [])
    res = maximal_independent_set(spark, e, 5)
    assert {r["id"] for r in res.members.collect()} == set(range(5))
    assert res.rounds == 1


def test_coarsen_mapping_and_expr_agree(spark):
    edges = [(0, 3), (1, 3), (0, 5), (4, 1), (2, 3), (3, 2)]
    e = edges_df(spark, edges)
    mapping = spark.range(6).select(
        F.col("id"), (F.col("id") % 2).alias("group")
    )
    via_map = {
        (r["src"], r["dst"]): r["val"]
        for r in coarsen_edges(e, mapping=mapping).collect()
    }
    via_expr = {
        (r["src"], r["dst"]): r["val"]
        for r in coarsen_edges(e, group_expr=lambda c: c % 2).collect()
    }
    # groups: even={0,2,4}, odd={1,3,5}; self-loops (2→3? no: 2%2=0,3%2=1)
    want = {}
    for s, d in edges:
        gs, gd = s % 2, d % 2
        if gs != gd:
            want[(gs, gd)] = want.get((gs, gd), 0) + 1.0
    assert via_map == want
    assert via_expr == want


def test_coarsen_requires_exactly_one_grouping(spark):
    e = edges_df(spark, [(0, 1)])
    with pytest.raises(ValueError):
        coarsen_edges(e)
    with pytest.raises(ValueError):
        coarsen_edges(
            e,
            mapping=spark.range(2).select("id", F.lit(0).alias("group")),
            group_expr=lambda c: c,
        )


def _weighted_pr_numpy(n, wedges, alpha, iters):
    W = np.zeros((n, n))
    for s, d, w in wedges:
        W[s, d] = w
    rs = W.sum(axis=1)
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = pr[rs == 0].sum()
        nxt = np.full(n, (alpha * dangling + 1 - alpha) / n)
        for s in range(n):
            if rs[s]:
                nxt += alpha * pr[s] * W[s] / rs[s]
        pr = nxt
    return pr


def test_weighted_pagerank_matches_numpy(spark):
    # weighted digraph with a dangling vertex 3
    wedges = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0), (2, 3, 5.0)]
    n, iters = 4, 6
    e = edges_df(spark, wedges, val=True)
    res = simple_pagerank(spark, e, n, alpha=0.85, conv=0.0, max_iter=iters)
    got = np.zeros(n)
    for r in res.ranks.collect():
        got[r["id"]] = r["val"]
    want = _weighted_pr_numpy(n, wedges, 0.85, iters)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)
    assert abs(got.sum() - 1.0) < 1e-12


def test_weighted_pagerank_uniform_weights_match_pattern(spark):
    """All-equal weights must reproduce the pattern-matrix ranks —
    the weighted path is a strict generalisation."""
    pairs = [(0, 1), (1, 2), (2, 0), (0, 2)]
    n, iters = 3, 5
    pat = simple_pagerank(
        spark, edges_df(spark, pairs), n, conv=0.0, max_iter=iters
    )
    wtd = simple_pagerank(
        spark,
        edges_df(spark, [(a, b, 2.5) for a, b in pairs], val=True),
        n,
        conv=0.0,
        max_iter=iters,
    )
    p = {r["id"]: r["val"] for r in pat.ranks.collect()}
    w = {r["id"]: r["val"] for r in wtd.ranks.collect()}
    assert p.keys() == w.keys()
    assert all(abs(p[k] - w[k]) < 1e-12 for k in p)


def test_local_clustering_exact(spark):
    # triangle 4-5-6 plus the path 0-1-2-3: known coefficients
    got = {
        r["id"]: (r["degree"], r["triangles"], r["coeff"])
        for r in local_clustering(edges_df(spark, UND)).collect()
    }
    assert got[4] == (2, 1, 1.0)
    assert got[5] == (2, 1, 1.0)
    assert got[6] == (2, 1, 1.0)
    assert got[1] == (2, 0, 0.0)  # path interior: deg 2, open wedge
    assert got[0] == (1, 0, 0.0)  # leaf: deg < 2
    assert 7 not in got  # isolated vertex has no edges


# --------------------------------------------------------------------------
# ANF (FM bit-OR propagation) and deterministic random walks
# --------------------------------------------------------------------------

from alp_spark.algorithms.anf import FM_PHI, HASH_SALT, anf  # noqa: E402
from alp_spark.pipeline.walks import STEP_SALT, random_walks  # noqa: E402

DIGRAPH = [(0, 1), (1, 2), (2, 3), (0, 3), (3, 0), (4, 0)]


def _fm_init(v):
    h = (v * PRIO_MULT + HASH_SALT) % PRIO_MOD
    return PRIO_MOD if h == 0 else h & -h


def _anf_python(n, edges, rounds):
    s = {v: _fm_init(v) for v in range(n)}
    for _ in range(rounds):
        nxt = dict(s)
        for a, b in edges:
            nxt[a] |= s[b]
        s = nxt
    return s


def test_anf_matches_python(spark):
    n, rounds = 5, 3
    res = anf(spark, edges_df(spark, DIGRAPH), n, rounds=rounds)
    got = {r["id"]: (r["sketch"], r["est_reach"]) for r in res.sketches.collect()}
    want = _anf_python(n, DIGRAPH, rounds)
    assert {k: v[0] for k, v in got.items()} == want
    for v, (sk, est) in got.items():
        low_zero = ~sk & (sk + 1)
        assert est == pytest.approx(low_zero / FM_PHI, abs=5e-7)
    assert res.rounds == rounds


def test_anf_zero_rounds_is_init(spark):
    res = anf(spark, edges_df(spark, DIGRAPH), 5, rounds=0)
    got = {r["id"]: r["sketch"] for r in res.sketches.collect()}
    assert got == {v: _fm_init(v) for v in range(5)}


def test_anf_rejects_negative_rounds(spark):
    with pytest.raises(ValueError):
        anf(spark, edges_df(spark, DIGRAPH), 5, rounds=-1)


def _walks_python(n, edges, length, seed=0):
    adj = {}
    for a, b in sorted(set(edges)):
        adj.setdefault(a, []).append(b)
    rows = set()
    for start in range(n):
        cur = start
        rows.add((start, 0, start))
        for t in range(1, length + 1):
            nbrs = adj.get(cur)
            if not nbrs:
                break
            i = (start * PRIO_MULT + t * STEP_SALT + seed) % PRIO_MOD % len(nbrs)
            cur = nbrs[i]
            rows.add((start, t, cur))
    return rows


def test_random_walks_match_python(spark):
    n, length = 5, 4
    res = random_walks(spark, edges_df(spark, DIGRAPH), n, length=length)
    got = {(r["start"], r["step"], r["vertex"]) for r in res.walks.collect()}
    assert got == _walks_python(n, DIGRAPH, length)
    # determinism across runs
    res2 = random_walks(spark, edges_df(spark, DIGRAPH), n, length=length)
    assert {(r["start"], r["step"], r["vertex"]) for r in res2.walks.collect()} == got


def test_random_walks_stop_at_sinks(spark):
    # 0 -> 1, 1 is a sink: the walk from 0 has steps 0 and 1 only
    res = random_walks(spark, edges_df(spark, [(0, 1)]), 2, length=3)
    got = sorted(
        (r["start"], r["step"], r["vertex"]) for r in res.walks.collect()
    )
    assert got == [(0, 0, 0), (0, 1, 1), (1, 0, 1)]


# --------------------------------------------------------------------------
# batched multi-source PPR
# --------------------------------------------------------------------------

def test_ppr_multi_matches_single_source(spark):
    from alp_spark.algorithms.ppr_multi import ppr_multi
    from alp_spark.containers import vector_schema

    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (3, 4)]  # 4 dangling
    n, rounds, seeds = 5, 3, [0, 2, 4]
    batched = ppr_multi(spark, edges_df(spark, edges), n, seeds, rounds=rounds)
    got = {
        (r["seed"], r["id"]): r["val"] for r in batched.ranks.collect()
    }
    assert len(got) == len(seeds) * n
    for s in seeds:
        tele = spark.createDataFrame([(s, 1.0)], vector_schema("double"))
        single = simple_pagerank(
            spark,
            edges_df(spark, edges),
            n,
            conv=0.0,
            max_iter=rounds,
            teleport=tele,
        )
        want = {r["id"]: r["val"] for r in single.ranks.collect()}
        for v in range(n):
            assert got[(s, v)] == want[v], (s, v)


def test_ppr_multi_rejects_bad_args(spark):
    import pytest as _pytest

    from alp_spark.algorithms.ppr_multi import ppr_multi

    e = edges_df(spark, [(0, 1)])
    with _pytest.raises(ValueError):
        ppr_multi(spark, e, 2, [])
    with _pytest.raises(ValueError):
        ppr_multi(spark, e, 2, [0], rounds=0)


# --------------------------------------------------------------------------
# k-truss
# --------------------------------------------------------------------------

def _truss_python(pairs, k):
    import collections

    es = {(min(a, b), max(a, b)) for a, b in pairs}
    while True:
        adj = collections.defaultdict(set)
        for a, b in es:
            adj[a].add(b)
            adj[b].add(a)
        keep = {(a, b) for a, b in es if len(adj[a] & adj[b]) >= k - 2}
        if keep == es:
            return es
        es = keep


def test_k_truss_exact(spark):
    from alp_spark.algorithms.truss import k_truss

    # two 4-cliques sharing vertex 3, plus a dangling triangle and tail
    pairs = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (3, 4), (3, 5), (3, 6), (4, 5), (4, 6), (5, 6),
        (7, 8), (8, 9), (7, 9), (9, 10),
    ]
    sym = _sym(pairs)
    for k in (3, 4, 5):
        got = {
            (r["src"], r["dst"])
            for r in k_truss(spark, edges_df(spark, sym), k=k).edges.collect()
        }
        assert got == _truss_python(pairs, k), k
    # k=4 keeps exactly the two cliques; the triangle+tail dies
    four = _truss_python(pairs, 4)
    assert (7, 8) not in four and (0, 1) in four and (4, 5) in four


def test_k_truss_rejects_small_k(spark):
    import pytest as _pytest

    from alp_spark.algorithms.truss import k_truss

    with _pytest.raises(ValueError):
        k_truss(spark, edges_df(spark, _sym([(0, 1)])), k=2)


def test_neighborhood_function(spark):
    from alp_spark.algorithms.anf import FM_PHI, neighborhood_function

    n, rounds = 5, 3
    got = {
        r["hop"]: r["n_pairs"]
        for r in neighborhood_function(
            spark, edges_df(spark, DIGRAPH), n, rounds=rounds
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    # replay: N(h) = sum of exact 2^R values / phi
    s = {v: _fm_init(v) for v in range(n)}
    for h in range(1, rounds + 1):
        nxt = dict(s)
        for a, b in DIGRAPH:
            nxt[a] |= s[b]
        s = nxt
        z = sum(~sk & (sk + 1) for sk in s.values())
        assert got[h] == pytest.approx(round(z / FM_PHI, 6), abs=1e-9), h
    # monotone non-decreasing in h
    assert got[1] <= got[2] <= got[3]


K7 = [(a, b) for a in range(100, 107) for b in range(100, 107) if a < b]
CASCADE = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (3, 5), (4, 5)] + K7


def test_k_truss_incremental_cascade(spark):
    # triangle chain (0,1,2)(1,2,3)(2,3,4)(3,4,5) hanging next to a K7:
    # k=4 peels the chain over multiple rounds — round 1 drops every
    # sup-1 edge (two edges of triangle (0,1,2) drop TOGETHER, so the
    # incremental pass must count that triangle's loss exactly once),
    # round 2's decrements zero the chain's spine, the K7 survives
    # untouched. The K7 keeps the dropped set a small fraction of the
    # survivors, so the |dropped|-proportional incremental path (not
    # the full-recompute fallback) runs — verified end to end against
    # a hand-computed fixpoint.
    from alp_spark.algorithms.truss import k_truss

    res = k_truss(spark, edges_df(spark, _sym(CASCADE)), k=4)
    got = sorted((r["src"], r["dst"]) for r in res.edges.collect())
    assert got == sorted(K7)
    assert res.rounds >= 3  # the cascade really took multiple peels


def test_k_truss_unbroadcast_dropped_set(spark, monkeypatch):
    # above BROADCAST_NNZ_THRESHOLD the dropped set is shuffle-joined
    # instead of broadcast; the peel must not depend on the join shape
    from alp_spark.algorithms import truss

    def run():
        res = truss.k_truss(spark, edges_df(spark, _sym(CASCADE)), k=4)
        return sorted((r["src"], r["dst"]) for r in res.edges.collect()), res.rounds

    want = run()
    monkeypatch.setattr(truss, "BROADCAST_NNZ_THRESHOLD", 0)
    assert run() == want
    assert want[0] == sorted(K7)
