"""HPCG (include/graphblas/algorithms/hpcg/) vs a NumPy
transliteration oracle: stencil builder, RBGS smoother + V-cycle
composition through the CG driver, the reference smoke invariant
(b = A·1 solves back to 1), and the reference ILLEGAL checks."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from alp_spark.algorithms.hpcg import (
    build_coarse_map,
    build_hpcg_system,
    build_stencil_matrix,
    hpcg,
)

from .oracles import hpcg_oracle, hpcg_system_oracle


def _vec_df(spark, v):
    return spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(v)], "id long, val double"
    )


def _collect_x(df, n):
    out = np.zeros(n)
    for r in df.collect():
        out[r["id"]] = r["val"]
    return out


def test_stencil_matrix_matches_numpy(spark):
    sizes = (4, 3, 3)
    A = np.zeros((36, 36))
    for r in build_stencil_matrix(spark, sizes).collect():
        A[r["row"], r["col"]] = r["val"]
    np.testing.assert_array_equal(A, hpcg_system_oracle(sizes))


def test_coarse_map_injects_even_coords(spark):
    got = {
        r["cid"]: r["fid"]
        for r in build_coarse_map(spark, (2, 2), (4, 4)).collect()
    }
    # coarse (cx, cy) -> fine (2cx, 2cy) in a 4-wide fine grid
    assert got == {0: 0, 1: 2, 2: 8, 3: 10}


def test_hpcg_preconditioned_matches_oracle(spark):
    sizes = (8, 8, 8)
    n = 8 * 8 * 8
    rng = np.random.RandomState(7)
    b = rng.uniform(-1, 1, n)
    system = build_hpcg_system(spark, sizes, num_colors=3, max_levels=1)
    assert system.coarser is not None  # 2-level hierarchy really built
    res = hpcg(
        spark, system, _vec_df(spark, b), max_iterations=3, tolerance=0.0
    )
    system.unpersist()
    want_x, want_it, want_norm = hpcg_oracle(
        sizes, b, num_colors=3, max_iterations=3
    )
    assert res.iterations == want_it
    np.testing.assert_allclose(_collect_x(res.x, n), want_x, rtol=1e-9, atol=1e-11)
    np.testing.assert_allclose(res.norm_residual, want_norm, rtol=1e-9)


def test_hpcg_unpreconditioned_matches_oracle(spark):
    sizes = (4, 4, 3)
    n = 48
    rng = np.random.RandomState(11)
    b = rng.uniform(-1, 1, n)
    system = build_hpcg_system(spark, sizes, num_colors=3, max_levels=1)
    assert system.coarser is None  # coarse 2×2×1 < min_phys_size
    res = hpcg(
        spark,
        system,
        _vec_df(spark, b),
        with_preconditioning=False,
        max_iterations=5,
    )
    system.unpersist()
    want_x, want_it, want_norm = hpcg_oracle(
        sizes, b, num_colors=3, with_preconditioning=False, max_iterations=5
    )
    assert res.iterations == want_it
    np.testing.assert_allclose(_collect_x(res.x, n), want_x, rtol=1e-9, atol=1e-11)


def test_hpcg_reference_smoke_invariant(spark):
    # tests/smoke/hpcg.cpp:221-289: b = A·1, x0 = 0 — HPCG must solve
    # back to the all-ones vector
    sizes = (4, 4, 4)
    n = 64
    system = build_hpcg_system(spark, sizes, num_colors=3, max_levels=1)
    ones = spark.range(n).select("id", F.lit(1.0).alias("val"))
    b_df = (
        system.A.join(
            ones.select(F.col("id").alias("col"), F.col("val").alias("_x")),
            on="col",
        )
        .groupBy(F.col("row").alias("id"))
        .agg(F.sum(F.col("val") * F.col("_x")).alias("val"))
    )
    res = hpcg(spark, system, b_df, max_iterations=56, tolerance=1e-10)
    system.unpersist()
    x = _collect_x(res.x, n)
    assert res.iterations < 56  # converged by tolerance, not cap
    np.testing.assert_allclose(x, np.ones(n), rtol=0, atol=1e-7)


def test_hpcg_illegal_inputs(spark):
    with pytest.raises(ValueError):  # halo must be > 0
        build_stencil_matrix(spark, (4, 4), halo=0)
    with pytest.raises(ValueError):  # halo wider than a dimension
        build_stencil_matrix(spark, (4, 2), halo=1)
    with pytest.raises(ValueError):  # fine not a multiple of coarse
        build_coarse_map(spark, (3, 3), (4, 4))
    with pytest.raises(ValueError):  # size < colors
        build_hpcg_system(spark, (3, 3), num_colors=27)


def test_hpcg_zero_rhs_graceful_exit(spark):
    # ADVICE r3: b ≡ 0 gives z = p = 0 on iteration 1, so pAp == 0; the
    # C++ reference's double division yields NaN that the loop guard
    # absorbs (hpcg.hpp:96) — our driver must exit the same way instead
    # of raising ZeroDivisionError.
    sizes = (3, 3, 3)
    system = build_hpcg_system(spark, sizes, num_colors=3, max_levels=1)
    zeros = _vec_df(spark, np.zeros(27))
    res = hpcg(spark, system, zeros, max_iterations=5, tolerance=1e-9)
    system.unpersist()
    assert res.iterations == 1  # NaN relative residual stops the loop
    assert res.residuals[0] == 0.0


def test_hpcg_two_level_vcycle_matches_oracle(spark):
    # VERDICT r3 item 6: exercise restrict/prolong across TWO coarsenings
    # (16³ → 8³ → 4³) through the full preconditioned-CG driver.
    sizes = (16, 16, 16)
    n = 4096
    rng = np.random.RandomState(23)
    b = rng.uniform(-1, 1, n)
    system = build_hpcg_system(spark, sizes, num_colors=3, max_levels=2)
    assert system.coarser is not None and system.coarser.coarser is not None
    assert system.coarser.coarser.coarser is None  # exactly 3 levels
    res = hpcg(
        spark, system, _vec_df(spark, b), max_iterations=2, tolerance=0.0
    )
    system.unpersist()
    want_x, want_it, want_norm = hpcg_oracle(
        sizes, b, num_colors=3, max_iterations=2, max_levels=2
    )
    assert res.iterations == want_it
    np.testing.assert_allclose(_collect_x(res.x, n), want_x, rtol=1e-9, atol=1e-11)
    np.testing.assert_allclose(res.norm_residual, want_norm, rtol=1e-9)
