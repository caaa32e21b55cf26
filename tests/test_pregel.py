"""Pregel runtime + vertex-program smoke tests vs the NumPy oracles
(analog of the reference's Pregel smoke goldens incl. exact round counts,
smoketests.sh:293/312)."""

from __future__ import annotations

import numpy as np
import pytest

from alp_spark.algorithms import connected_components, pregel_pagerank

from .fixtures import edges_df, g2_components, g10_line_hub, g497_powerlaw
from .oracles import pregel_connected_components as cc_oracle
from .oracles import pregel_pagerank as pr_oracle


def state_arr(df, n, col="state", dtype=float):
    out = np.zeros(n, dtype=dtype)
    for r in df.collect():
        out[r["id"]] = r[col]
    return out


@pytest.mark.parametrize("local", [False, True])
def test_pregel_pagerank_matches_oracle(spark, local):
    n, edges = g10_line_hub()
    E = edges_df(spark, edges)
    res = pregel_pagerank(spark, E, n, local_converge=local)
    want, want_rounds = pr_oracle(n, edges, local_converge=local)
    got = state_arr(res.state, n)
    np.testing.assert_allclose(got, want, rtol=1e-12)
    assert res.rounds == want_rounds  # exact round-count golden (56/47 analog)
    assert res.converged


def test_pregel_pagerank_local_fewer_rounds(spark):
    # the reference golden pair: local-converge terminates earlier (47 < 56)
    n, edges = g497_powerlaw(n=97)
    E = edges_df(spark, edges)
    glob = pregel_pagerank(spark, E, n, local_converge=False)
    loc = pregel_pagerank(spark, E, n, local_converge=True)
    w_g, r_g = pr_oracle(n, edges, local_converge=False)
    w_l, r_l = pr_oracle(n, edges, local_converge=True)
    assert glob.rounds == r_g and loc.rounds == r_l
    np.testing.assert_allclose(state_arr(glob.state, n), w_g, rtol=1e-12)
    np.testing.assert_allclose(state_arr(loc.state, n), w_l, rtol=1e-12)
    assert loc.rounds <= glob.rounds


def test_connected_components_exact(spark):
    n, edges = g2_components()
    E = edges_df(spark, edges)
    res = connected_components(spark, E, n)
    want, want_rounds = cc_oracle(n, edges)
    got = state_arr(res.state, n, dtype=np.int64)
    np.testing.assert_array_equal(got, want)
    assert res.rounds == want_rounds
    # two components labelled by their max vertex id
    assert set(got) == {6, 11}


def test_connected_components_with_isolated_vertices(spark):
    # vertices 5,6 isolated (out/indegree 0) keep their own label
    edges = [(0, 1), (1, 0), (2, 3), (3, 2), (3, 4), (4, 3)]
    n = 7
    E = edges_df(spark, edges)
    res = connected_components(spark, E, n)
    want, want_rounds = cc_oracle(n, edges)
    got = state_arr(res.state, n, dtype=np.int64)
    np.testing.assert_array_equal(got, want)
    assert got[5] == 5 and got[6] == 6
    assert res.rounds == want_rounds


def test_max_rounds_failure_flag(spark):
    n, edges = g2_components()
    E = edges_df(spark, edges)
    res = connected_components(spark, E, n, max_rounds=1)
    assert not res.converged  # reference RC FAILED (pregel.hpp:850-858)


def test_program_pass_is_frontier_proportional(spark):
    # the Arrow program pass must serialize O(active) rows, not O(n):
    # cumulative program rows == n (round 0) + Σ active-at-entry of the
    # later rounds, and with local convergence that is < rounds * n
    n, edges = g497_powerlaw(n=97)
    E = edges_df(spark, edges)
    res = pregel_pagerank(spark, E, n, local_converge=True)
    total_prog_rows = res.history[-1]["program_rows"]
    expected = n + sum(h["active"] for h in res.history[:-1])
    assert total_prog_rows == expected
    assert total_prog_rows < res.rounds * n  # the active set shrank


@pytest.mark.parametrize("strategy", ["always", "when_reduced", "when_halved"])
def test_pregel_sparsification_strategies_match_oracle(spark, strategy):
    # sparsified out-vectors change which messages flow (inactive
    # vertices stop broadcasting) — pin against the NumPy oracle
    # extended with the same reference semantics (pregel.hpp:887-898)
    n, edges = g497_powerlaw(n=97)
    E = edges_df(spark, edges)
    res = pregel_pagerank(spark, E, n, local_converge=True, sparsify=strategy)
    want, want_rounds = pr_oracle(n, edges, local_converge=True, sparsify=strategy)
    got = state_arr(res.state, n)
    np.testing.assert_allclose(got, want, rtol=1e-12)
    assert res.rounds == want_rounds
    # out_nnz recorded in history must never grow
    nnzs = [h["out_nnz"] for h in res.history]
    assert all(b <= a for a, b in zip(nnzs, nnzs[1:]))


def test_sparsify_noop_for_halt_vote_programs(spark):
    # CC never deactivates vertices (halt votes only), so live == active
    # == everyone until termination: any strategy must reproduce the
    # NONE labels and round count exactly
    n, edges = g2_components()
    E = edges_df(spark, edges)
    res = connected_components(spark, E, n, sparsify="always")
    want, want_rounds = cc_oracle(n, edges)
    got = state_arr(res.state, n, dtype=np.int64)
    np.testing.assert_array_equal(got, want)
    assert res.rounds == want_rounds


@pytest.mark.parametrize("local", [False, True])
def test_pregel_struct_state_pagerank_residual(spark, local):
    """Struct-typed state (interfaces/pregel.hpp:508-663 arbitrary POD):
    the residual-carrying program must reproduce the scalar program's
    scores, round count, and halting bit-for-bit, with the in-state
    residual equal to the final round's |Δscore|."""
    from alp_spark.algorithms.pregel_pagerank import pregel_pagerank_residual

    n, edges = g10_line_hub()
    E = edges_df(spark, edges)
    scalar = pregel_pagerank(spark, E, n, local_converge=local)
    struct = pregel_pagerank_residual(spark, E, n, local_converge=local)
    s_scores = state_arr(scalar.state, n)
    rows = {r["id"]: r["state"] for r in struct.state.collect()}
    got_scores = np.array([rows[i]["score"] for i in range(n)])
    got_resid = np.array([rows[i]["residual"] for i in range(n)])
    np.testing.assert_array_equal(got_scores, s_scores)
    assert struct.rounds == scalar.rounds
    assert struct.converged == scalar.converged
    # every residual is a genuine |Δ|; on global halt all are < tol
    assert (got_resid >= 0).all()
    if not local:
        assert (got_resid < 1e-5).all()


def test_history_records_wall_time(spark):
    n, edges = g2_components()
    res = connected_components(spark, edges_df(spark, edges), n)
    assert len(res.history) == res.rounds
    assert all(h["wall_s"] > 0 for h in res.history)


class _FailingCheckpointer:
    def save(self, *args, **kwargs):
        raise RuntimeError("checkpoint store unavailable")


def test_pregel_releases_persisted_frames(spark):
    # the cached edge table and every superstep checkpoint are released
    # on each exit path; only the returned state may stay persisted
    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    n, edges = g2_components()
    E = edges_df(spark, edges)
    for kwargs in ({}, {"max_rounds": 1}):
        before = persisted()
        connected_components(spark, E, n, **kwargs)
        assert persisted() <= before + 1, kwargs
    before = persisted()
    with pytest.raises(RuntimeError, match="checkpoint store unavailable"):
        connected_components(
            spark, E, n, checkpointer=_FailingCheckpointer(), checkpoint_every=1
        )
    assert persisted() <= before


def test_outputs_independent_of_shuffle_partitions(spark):
    # every superstep plan shuffles: labels, scores and round counts must
    # not depend on how many partitions the shuffles use. Labels are
    # exact; PageRank message sums are partial-summed per edge partition,
    # so scores may move by a few ulps (the summation order), no more.
    from alp_spark.algorithms.pregel_pagerank import pregel_pagerank_residual

    n, edges = g497_powerlaw(n=97)
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)

    def run_all():
        E = edges_df(spark, edges)
        cc = connected_components(spark, E, n)
        pr = pregel_pagerank(spark, E, n)
        st = pregel_pagerank_residual(spark, E, n)
        st_scores = {r["id"]: r["state"]["score"] for r in st.state.collect()}
        return (
            (state_arr(cc.state, n, dtype=np.int64), cc.rounds),
            (state_arr(pr.state, n), pr.rounds),
            (np.array([st_scores[i] for i in range(n)]), st.rounds),
        )

    try:
        spark.conf.set(conf, "2")
        two = run_all()
        spark.conf.set(conf, "8")
        eight = run_all()
    finally:
        spark.conf.set(conf, old)
    np.testing.assert_array_equal(two[0][0], eight[0][0])
    for (a, _), (b, _) in zip(two[1:], eight[1:]):
        np.testing.assert_allclose(a, b, rtol=1e-15)
    assert [r for _, r in two] == [r for _, r in eight]
