"""Unit tests for BLAS-1 primitives vs hand/NumPy oracles (analog of the
reference's tests/unit/{ewiseapply,dot,fold,set,zip}.cpp)."""

from __future__ import annotations

import math

import pytest

from alp_spark import algebra as alg
from alp_spark.containers import set_dense
from alp_spark.operators import (
    apply_mask,
    dot,
    e_wise_apply,
    e_wise_map,
    fold_scalar,
    fold_vector,
    unzip_vector,
    zip_vectors,
)
from alp_spark.plans.partitions import partitions_for, vertex_ids

from .fixtures import MASK10, V_DENSE10, V_SPARSE10, vec_df


def as_dict(df):
    return {r["id"]: r["val"] for r in df.collect()}


def test_ewise_apply_operator_is_intersection(spark):
    # base/blas1.hpp:1391 — operator form intersects sparsity
    x = vec_df(spark, V_DENSE10)
    y = vec_df(spark, V_SPARSE10)
    z = e_wise_apply(x, y, alg.add)
    assert as_dict(z) == {1: 0.2 + 1.0, 3: 0.4 + 2.0, 5: 0.6 + 3.0}


def test_ewise_apply_monoid_is_union(spark):
    # base/blas1.hpp:1616 — monoid form unions sparsity, identity fills
    x = vec_df(spark, [(0, 1.0), (1, 2.0)])
    y = vec_df(spark, [(1, 10.0), (2, 20.0)])
    z = e_wise_apply(x, y, alg.add, monoid=alg.PLUS)
    assert as_dict(z) == {0: 1.0, 1: 12.0, 2: 20.0}


def test_ewise_apply_masked_and_inverted(spark):
    x = vec_df(spark, V_DENSE10)
    y = vec_df(spark, V_DENSE10)
    mask = vec_df(spark, MASK10, "boolean")
    z = e_wise_apply(x, y, alg.add, mask=mask)
    assert set(as_dict(z)) == {0, 2, 4, 6, 8}
    zi = e_wise_apply(x, y, alg.add, mask=mask, invert_mask=True)
    assert set(as_dict(zi)) == {1, 3, 5, 7, 9}


def test_fold_scalar_and_masked(spark):
    x = vec_df(spark, V_DENSE10)
    mask = vec_df(spark, MASK10, "boolean")
    assert fold_scalar(x, alg.PLUS) == pytest.approx(sum(v for _, v in V_DENSE10))
    assert fold_scalar(x, alg.PLUS, mask=mask) == pytest.approx(
        sum(v for i, v in V_DENSE10 if i % 2 == 0)
    )
    # invert_mask — the PageRank dangling-mass pattern (simple_pagerank.hpp:312)
    assert fold_scalar(x, alg.PLUS, mask=mask, invert_mask=True) == pytest.approx(
        sum(v for i, v in V_DENSE10 if i % 2 == 1)
    )
    assert fold_scalar(x, alg.MAX) == pytest.approx(1.0)
    # empty fold returns the identity
    empty = x.where("val > 100")
    assert fold_scalar(empty, alg.PLUS) == 0.0
    assert fold_scalar(empty, alg.MAX) == -math.inf


def test_dot_standard_and_generalised(spark):
    x = vec_df(spark, V_DENSE10)
    y = vec_df(spark, V_SPARSE10)
    # (add, mul) — base/blas1.hpp:4056
    assert dot(x, y, alg.PLUS, alg.mul) == pytest.approx(0.2 * 1 + 0.4 * 2 + 0.6 * 3)
    # (add, abs_diff) — the PR residual ring (simple_pagerank.hpp:433)
    assert dot(x, y, alg.PLUS, alg.abs_diff) == pytest.approx(
        abs(0.2 - 1) + abs(0.4 - 2) + abs(0.6 - 3)
    )
    # (or, not_equal) — label-prop convergence (label.hpp:253)
    assert dot(x, x, alg.LOR, alg.not_equal) is False


def test_set_dense_and_use_index(spark):
    d = set_dense(spark, 5, 0.25)
    assert as_dict(d) == {i: 0.25 for i in range(5)}
    # the use-index seed (descriptors.hpp:167): value := own index
    assert [r.id for r in vertex_ids(spark, 4).collect()] == [0, 1, 2, 3]
    # one rule: ⌈8n / 2 MiB⌉ partitions (262,144 ids each), capped at
    # shuffle.partitions
    # n = 0: the rule gives 1, but Spark runs an empty range as an RDD
    # of 0 partitions whatever count it is given
    assert partitions_for(spark, 0) == 1
    for n, p in [(1, 1), (262_144, 1), (262_145, 2)]:
        assert vertex_ids(spark, n).rdd.getNumPartitions() == p
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        assert vertex_ids(spark, 10**6).rdd.getNumPartitions() == 2
    finally:
        spark.conf.set(conf, old)


def test_fold_vector_union(spark):
    z = vec_df(spark, [(0, 1.0)])
    x = vec_df(spark, [(0, 2.0), (1, 3.0)])
    assert as_dict(fold_vector(z, x, alg.PLUS)) == {0: 3.0, 1: 3.0}


def test_zip_unzip_roundtrip(spark):
    x = vec_df(spark, V_SPARSE10)
    y = vec_df(spark, [(1, 5.0), (3, 6.0), (5, 7.0)])
    a, b = unzip_vector(zip_vectors(x, y))
    assert as_dict(a) == as_dict(x)
    assert as_dict(b) == as_dict(y)


def test_ewise_map(spark):
    x = vec_df(spark, V_SPARSE10)
    z = e_wise_map(x, lambda c: c * 2)
    assert as_dict(z) == {1: 2.0, 3: 4.0, 5: 6.0}


def test_structural_vs_value_mask(spark):
    x = vec_df(spark, V_DENSE10)
    mask = vec_df(spark, [(0, True), (1, False), (2, True)], "boolean")
    structural = apply_mask(x, mask, structural=True)
    assert set(as_dict(structural)) == {0, 1, 2}
    valued = apply_mask(x, mask, structural=False)
    assert set(as_dict(valued)) == {0, 2}
