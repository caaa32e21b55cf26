"""Scalar-operator / monoid semantics pinned by unit tests:
argmin/argmax (ops.hpp:573/600 → struct least/greatest),
the TIMES monoid product aggregate over zeros/negatives, and the
vector⊙scalar eWiseApply overloads (base/blas1.hpp overload family)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from alp_spark import algebra as alg
from alp_spark.containers import ID, VAL
from alp_spark.operators import e_wise_apply_scalar, fold_scalar

from .fixtures import vec_df


def _v(df):
    return {r[ID]: r[VAL] for r in df.collect()}


def test_times_monoid_handles_zero_and_negative(spark):
    # regression: the old exp(sum(log)) aggregate returned NaN/null for
    # any zero or negative element
    x = vec_df(spark, [(0, 2.0), (1, -3.0), (2, 0.5)])
    assert fold_scalar(x, alg.TIMES) == -3.0
    y = vec_df(spark, [(0, 4.0), (1, 0.0), (2, 7.0)])
    assert fold_scalar(y, alg.TIMES) == 0.0


def test_times_monoid_identity_on_empty(spark):
    x = vec_df(spark, [(0, 5.0)]).where(F.col(ID) < 0)
    assert fold_scalar(x, alg.TIMES) == 1.0


def test_argmin_argmax_pair_monoid_deterministic_ties(spark):
    # the pair (val, idx) monoid IS tie-deterministic: min/max over the
    # struct orders by val then idx
    x = vec_df(spark, [(0, 3.0), (1, -1.0), (2, 7.0), (3, -1.0)])
    row = x.agg(
        alg.ARGMIN.agg(alg.pair(F.col(VAL), F.col(ID))).alias("pmin"),
        alg.ARGMAX.agg(alg.pair(F.col(VAL), F.col(ID))).alias("pmax"),
    ).collect()[0]
    assert (row["pmin"]["val"], row["pmin"]["idx"]) == (-1.0, 1)
    assert (row["pmax"]["val"], row["pmax"]["idx"]) == (7.0, 2)


def test_argmin_argmax_pairwise_ops(spark):
    df = spark.createDataFrame([(1.0, 10, 1.0, 4)], "xa double, xi long, ya double, yi long")
    row = df.select(
        alg.argmin_op(
            alg.pair(F.col("xa"), F.col("xi")), alg.pair(F.col("ya"), F.col("yi"))
        ).alias("lo"),
        alg.argmax_op(
            alg.pair(F.col("xa"), F.col("xi")), alg.pair(F.col("ya"), F.col("yi"))
        ).alias("hi"),
    ).collect()[0]
    # equal vals → idx breaks the tie either way, deterministically
    assert row["lo"]["idx"] == 4 and row["hi"]["idx"] == 10


def test_pair_monoid_identity_literal(spark):
    ident = alg.ARGMIN.lit_identity()
    row = spark.range(1).select(ident.alias("i")).collect()[0]
    assert row["i"]["val"] == math.inf


def test_e_wise_apply_scalar(spark):
    x = vec_df(spark, [(0, 2.0), (1, 3.0)])
    assert _v(e_wise_apply_scalar(x, 10.0, alg.add)) == {0: 12.0, 1: 13.0}
    # flip matters for non-commutative ops
    assert _v(e_wise_apply_scalar(x, 10.0, alg.subtract)) == {0: -8.0, 1: -7.0}
    assert _v(e_wise_apply_scalar(x, 10.0, alg.subtract, flip=True)) == {
        0: 8.0,
        1: 7.0,
    }


def test_norm2_and_cosine_similarity(spark):
    import numpy as np

    from alp_spark.operators import cosine_similarity, norm2

    xs = [1.0, -2.0, 3.0]
    ys = [4.0, 0.5, -1.0]
    x = vec_df(spark, list(enumerate(xs)))
    y = vec_df(spark, list(enumerate(ys)))
    assert norm2(x) == pytest.approx(np.linalg.norm(xs))
    want = float(np.dot(xs, ys) / (np.linalg.norm(xs) * np.linalg.norm(ys)))
    assert cosine_similarity(x, y) == pytest.approx(want)
    z = vec_df(spark, [(0, 0.0)])
    with pytest.raises(ValueError):
        cosine_similarity(x, z)


def test_no_casting_descriptor(spark):
    from alp_spark.operators import e_wise_apply

    x = vec_df(spark, [(0, 1.0)])
    y = vec_df(spark, [(0, 2)], val_type="long")
    with pytest.raises(TypeError, match="no_casting"):
        e_wise_apply(x, y, alg.add, no_casting=True)
    # permissive default lets Spark promote
    assert _v(e_wise_apply(x, y, alg.add)) == {0: 3.0}
