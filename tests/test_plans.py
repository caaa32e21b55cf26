"""Physical-plan layer: hub salting + CSR-block SpMV (SURVEY.md §4 #1/#12).

Salting must be a pure reassociation (identical results to the unsalted
plan); the CSR kernel must match the numpy dense oracle and the CSR
PageRank must match the reference-semantics oracle at 1e-10.
"""

from __future__ import annotations

import glob
import os
import tempfile

import numpy as np
import pytest

from alp_spark import algebra as alg
from alp_spark.algorithms.simple_pagerank import simple_pagerank_csr
from alp_spark.containers import ID, VAL
from alp_spark.operators.blas2 import vxm
from alp_spark.plans import build_csr_blocks, hot_keys, salted_vxm
from alp_spark.plans.csr_blocks import spmv_dense

from .fixtures import SEED, edges_df, g10_line_hub, g_hub_skew
from . import oracles


def _vec(df):
    return {r[ID]: r[VAL] for r in df.collect()}


@pytest.fixture(scope="module")
def hub_graph(spark):
    n, edges = g_hub_skew(n=2000)
    return n, edges, edges_df(spark, edges)


def test_hot_keys_finds_hubs(spark, hub_graph):
    n, edges, E = hub_graph
    hot = hot_keys(E, "src", threshold=100)
    ids = {r[ID] for r in hot.collect()}
    # the fixture gives vertex 0 ~5% of all out-edges
    assert 0 in ids and len(ids) < 20
    degs = {}
    for s, _ in edges:
        degs[s] = degs.get(s, 0) + 1
    assert ids == {v for v, c in degs.items() if c > 100}


@pytest.mark.parametrize("ring", [alg.PLUS_TIMES, alg.MIN_PLUS])
def test_salted_vxm_matches_plain(spark, hub_graph, ring):
    n, edges, E = hub_graph
    rng = np.random.default_rng(SEED)
    xs = rng.random(n)
    v = spark.createDataFrame(
        [(int(i), float(xs[i])) for i in range(n)], f"{ID} long, {VAL} double"
    )
    hot_d = hot_keys(E, "dst", threshold=100)
    hot_s = hot_keys(E, "src", threshold=100)
    plain = _vec(vxm(v, E, ring, strategy="shuffle"))
    salted_df = salted_vxm(
        v, E, ring, hot_src=hot_s, hot_dst=hot_d, n_salts=8, hot_nnz=n
    )
    # both hot sets are under the gate's threshold, so both are broadcast
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    salted = _vec(salted_df)
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k] == pytest.approx(salted[k], rel=1e-12)


def test_salted_vxm_no_hot_sets(spark, hub_graph):
    """Degenerate config (no hot keys) is the plain plan."""
    n, edges, E = hub_graph
    v = spark.createDataFrame(
        [(i, 1.0) for i in range(50)], f"{ID} long, {VAL} double"
    )
    a = _vec(salted_vxm(v, E, alg.PLUS_TIMES))
    b = _vec(vxm(v, E, alg.PLUS_TIMES, strategy="shuffle"))
    assert a == pytest.approx(b)


def test_csr_spmv_plus_matches_numpy(spark):
    n, edges = g10_line_hub()
    E = edges_df(spark, edges)
    csr = build_csr_blocks(spark, E, n, n_partitions=3)
    assert csr.n_edges == len(edges)
    rng = np.random.default_rng(SEED)
    x = rng.random(n)
    y = spmv_dense(spark, csr, x)
    A = oracles.adjacency(n, edges)
    np.testing.assert_allclose(y, x @ A, rtol=1e-12)
    csr.unpersist()


def test_csr_pagerank_matches_oracle(spark):
    n, edges = g10_line_hub()
    E = edges_df(spark, edges)
    res = simple_pagerank_csr(spark, E, n, alpha=0.85, conv=1e-10, max_iter=200)
    got = np.array([_vec(res.ranks)[i] for i in range(n)])
    want, _, _ = oracles.simple_pagerank(n, edges, alpha=0.85, conv=1e-10, max_iter=200)
    np.testing.assert_allclose(got, want, atol=1e-9)


def test_csr_pagerank_matches_dataframe_path(spark, hub_graph):
    from alp_spark.algorithms.simple_pagerank import simple_pagerank

    n, edges, E = hub_graph
    vb = _vec(simple_pagerank_csr(spark, E, n, conv=0.0, max_iter=3).ranks)
    # both DataFrame strategies: broadcast (the default at this n) and
    # shuffle, the one that runs graphs too large for the CSR driver vector
    for strategy in ("broadcast", "shuffle"):
        a = simple_pagerank(spark, E, n, conv=0.0, max_iter=3, strategy=strategy)
        va = _vec(a.ranks)
        for i in range(n):
            assert va.get(i, 0.0) == pytest.approx(vb[i], abs=1e-12), strategy


def test_csr_spmv_broadcast_transport(spark):
    # x_transport='broadcast' (TorrentBroadcast — the multi-executor
    # cluster path) must match the local file transport bit-for-bit
    n, edges = g10_line_hub()
    E = edges_df(spark, edges)
    csr = build_csr_blocks(spark, E, n, n_partitions=3)
    rng = np.random.default_rng(SEED)
    x = rng.random(n)
    y_file = spmv_dense(spark, csr, x, x_transport="file")
    y_bcast = spmv_dense(spark, csr, x, x_transport="broadcast")
    np.testing.assert_array_equal(y_file, y_bcast)
    A = oracles.adjacency(n, edges)
    np.testing.assert_allclose(y_bcast, x @ A, rtol=1e-12)
    csr.unpersist()


def _csr_dirs():
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "alp_csr_*")))


def test_csr_build_rejects_out_of_range_src(spark):
    E = edges_df(spark, [(0, 1), (7, 2)])  # src 7 >= n=5
    before = _csr_dirs()
    csr = None
    with pytest.raises(Exception, match="out of range"):
        csr = build_csr_blocks(spark, E, 5, n_partitions=2)
    if csr is not None:
        csr.unpersist()
    assert _csr_dirs() <= before  # the failed build removed its files


def test_csr_pagerank_failure_removes_block_files(spark):
    class Failing:
        def save(self, *args, **kwargs):
            raise RuntimeError("checkpoint store unavailable")

        def latest(self):
            return None

    n, edges = g10_line_hub()
    E = edges_df(spark, edges)
    before = _csr_dirs()
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    with pytest.raises(RuntimeError, match="checkpoint store unavailable"):
        simple_pagerank_csr(spark, E, n, checkpointer=Failing(), checkpoint_every=1)
    assert _csr_dirs() <= before
    # ids, not the map's size: GC of earlier frames can shrink the map
    assert not set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - persisted


def test_small_frontier_vxm_broadcasts_mask_and_frontier(spark, hub_graph):
    # VERDICT r3 item 2: when the driver knows the frontier is small
    # (n_active below BROADCAST_NNZ_THRESHOLD), BOTH joins of the Pregel
    # exchange — the out-mask semi-join pruning edges and the frontier
    # inner join — must broadcast the small side, so the edge table is
    # never hash-shuffled pre-aggregation (reference emiim loop-size
    # choice, reference/blas2.hpp:1063-1145).
    import pyspark.sql.functions as F

    ring = alg.PLUS_TIMES
    n, _, E = hub_graph
    frontier = spark.range(5).select(
        F.col("id"), F.lit(1.0).alias("val")
    )
    mask = spark.range(5).select("id")
    u = vxm(
        frontier, E, ring, out_mask=mask,
        strategy="auto", frontier_nnz=5, out_mask_nnz=5,
    )
    plan = u._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    # the only hash repartitioning left is the final groupBy aggregation
    assert plan.count("Exchange hashpartitioning") <= 1


def test_vxm_without_mask_hint_leaves_choice_to_aqe(spark, hub_graph):
    import pyspark.sql.functions as F

    ring = alg.PLUS_TIMES
    n, _, E = hub_graph
    frontier = spark.range(5).select(F.col("id"), F.lit(1.0).alias("val"))
    mask = spark.range(5).select("id")
    hinted = vxm(frontier, E, ring, out_mask=mask, out_mask_nnz=5,
                 strategy="broadcast")
    unhinted = vxm(frontier, E, ring, out_mask=mask, strategy="broadcast")
    # results identical either way — the hint is purely physical
    assert sorted(map(tuple, hinted.collect())) == sorted(
        map(tuple, unhinted.collect())
    )


def test_e_wise_lambda_matrix_gates_vector_broadcast(spark, hub_graph):
    # VERDICT r4: row/col vectors are O(n) (up to 1e9 at the design
    # point) — the joins must NOT broadcast above the nnz threshold,
    # and must broadcast below it, mirroring vxm(out_mask_nnz=...).
    import pandas as pd
    import pyspark.sql.functions as F

    from alp_spark.operators.blas2 import e_wise_lambda_matrix

    n, _, E = hub_graph
    rv = spark.range(n).select(F.col("id"), F.lit(2.0).alias("val"))
    cv = spark.range(n).select(F.col("id"), F.lit(3.0).alias("val"))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"src": pdf["src"], "dst": pdf["dst"],
             "val": pdf["row_val"] * pdf["col_val"]}
        )

    # disable Catalyst's stats-based auto-broadcast so the plan shows
    # only what the HINT dictates (test data is tiny; at the design
    # point the vectors are terabyte-scale and stats would agree)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = e_wise_lambda_matrix(
            E, fn, row_vec=rv, col_vec=cv,
            row_vec_nnz=10**9, col_vec_nnz=10**9,
        )
        plan = big._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    small = e_wise_lambda_matrix(
        E, fn, row_vec=rv, col_vec=cv, row_vec_nnz=n, col_vec_nnz=n
    )
    plan_s = small._jdf.queryExecution().executedPlan().toString()
    assert plan_s.count("BroadcastHashJoin") == 2
