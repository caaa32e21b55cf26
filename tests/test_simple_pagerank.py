"""Smoke tests: simple_pagerank vs the NumPy oracle (analog of the
reference's tests/smoke/simple_pagerank.cpp golden verification with
rel. 2-norm ≤ 1e-5 and rel. inf-norm ≤ 1e-6,
tests/utils/output_verification.hpp:97-99)."""

from __future__ import annotations

import numpy as np
import pytest

from alp_spark.algorithms import simple_pagerank
from alp_spark.checkpoint import ParquetCheckpointer

from .fixtures import edges_df, g10_line_hub, g497_powerlaw, g_dangling, vec_df
from .oracles import simple_pagerank as oracle_pagerank


def as_arr(df, n):
    out = np.zeros(n)
    for r in df.collect():
        out[r["id"]] = r["val"]
    return out


def verify(got: np.ndarray, want: np.ndarray):
    # output_verification.hpp semantics: relative 2-norm and inf-norm
    assert np.linalg.norm(got - want) / np.linalg.norm(want) <= 1e-5
    assert np.abs(got - want).max() / np.abs(want).max() <= 1e-6


@pytest.mark.parametrize("fixture", [g10_line_hub, g_dangling, g497_powerlaw])
def test_pagerank_matches_oracle(spark, fixture):
    n, edges = fixture()
    E = edges_df(spark, edges)
    res = simple_pagerank(spark, E, n)
    want, want_iters, want_res = oracle_pagerank(n, edges)
    got = as_arr(res.ranks, n)
    verify(got, want)
    assert res.iterations == want_iters  # round-count invariant
    assert res.residual == pytest.approx(want_res, rel=1e-6)
    assert got.sum() == pytest.approx(1.0, abs=1e-9)  # PR mass preserved


def test_pagerank_warm_start_converges_fast(spark, tmp_path):
    # a finished run's checkpointer holds its converged ranks: a call
    # passed it resumes there and stops within two more rounds
    n, edges = g10_line_hub()
    E = edges_df(spark, edges)
    full = simple_pagerank(spark, E, n, checkpointer=ParquetCheckpointer(str(tmp_path), "pr"))
    warm = simple_pagerank(
        spark, E, n, checkpointer=ParquetCheckpointer.attach(str(tmp_path), "pr")
    )
    assert full.iterations < warm.iterations <= full.iterations + 2
    verify(as_arr(warm.ranks, n), as_arr(full.ranks, n))


def _joins(df) -> int:
    """Join nodes in ``df``'s analyzed logical plan."""
    tree = df._jdf.queryExecution().analyzed().treeString()
    return sum(1 for line in tree.splitlines() if line.lstrip(" :+-").startswith("Join "))


@pytest.mark.parametrize("personalized", [False, True])
def test_round_frame_joins_only_the_vxm_output(spark, monkeypatch, personalized):
    # inv and the teleport share ride in the checkpointed state, so a
    # round joins the edges inside vxm and the vxm output onto pr: nothing else
    from alp_spark.loop import Loop

    rounds = []
    step = Loop.step

    def spy(self, df, *args, **kwargs):
        rounds.append(_joins(df))
        return step(self, df, *args, **kwargs)

    monkeypatch.setattr(Loop, "step", spy)
    n, edges = g_dangling()
    tele = vec_df(spark, [(0, 0.5), (n - 1, 0.5)]) if personalized else None
    res = simple_pagerank(spark, edges_df(spark, edges), n, max_iter=3, teleport=tele)
    assert rounds == [2] * res.iterations
