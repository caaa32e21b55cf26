"""Coverage for the remaining §2.4-2.6 primitives: eWiseAdd/Mul/FMA,
eWiseLambda (vector + matrix), matrix zip/set, and the MM/SNAP readers."""

from __future__ import annotations

import pandas as pd
import pytest

from alp_spark import algebra as alg
from alp_spark.containers import DST, ID, SRC, VAL
from alp_spark.operators import (
    e_wise_add,
    e_wise_lambda,
    e_wise_lambda_matrix,
    e_wise_mul,
    e_wise_mul_add,
    matrix_set,
    matrix_zip,
    outer,
)
from alp_spark.sources.readers import read_matrix_market, read_snap_edges

from .fixtures import vec_df


def _v(df):
    return {r[ID]: r[VAL] for r in df.collect()}


def test_e_wise_add_union(spark):
    z = vec_df(spark, [(0, 1.0)])
    x = vec_df(spark, [(0, 2.0), (1, 3.0)])
    y = vec_df(spark, [(1, 4.0), (2, 5.0)])
    out = _v(e_wise_add(z, x, y, alg.PLUS))
    assert out == {0: 3.0, 1: 7.0, 2: 5.0}


def test_e_wise_mul_intersection(spark):
    z = vec_df(spark, [(1, 10.0)])
    x = vec_df(spark, [(0, 2.0), (1, 3.0)])
    y = vec_df(spark, [(1, 4.0), (2, 5.0)])
    out = _v(e_wise_mul(z, x, y, alg.PLUS, alg.mul))
    assert out == {1: 22.0}  # only id 1 in x∩y; z folds in


def test_e_wise_mul_add(spark):
    z = vec_df(spark, [(0, 1.0)])
    a = vec_df(spark, [(0, 2.0), (1, 3.0)])
    x = vec_df(spark, [(0, 10.0), (1, 10.0)])
    y = vec_df(spark, [(0, 5.0)])
    out = _v(e_wise_mul_add(z, a, x, y, alg.PLUS, alg.mul))
    assert out == {0: 26.0, 1: 30.0}  # a*x + y + z


def test_e_wise_lambda_vectorized(spark):
    x = vec_df(spark, [(0, 1.0), (1, 2.0)])
    y = vec_df(spark, [(0, 3.0), (1, 5.0)])

    def fused(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({ID: pdf[ID], VAL: pdf["v0"] * 2 + pdf["v1"]})

    out = _v(e_wise_lambda([x, y], fused))
    assert out == {0: 5.0, 1: 9.0}


def test_e_wise_lambda_matrix(spark):
    E = spark.createDataFrame([(0, 1), (1, 0)], f"{SRC} long, {DST} long")
    rv = vec_df(spark, [(0, 10.0), (1, 20.0)])
    cv = vec_df(spark, [(0, 1.0), (1, 2.0)])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {SRC: pdf[SRC], DST: pdf[DST], VAL: pdf["row_val"] + pdf["col_val"]}
        )

    rows = {
        (r[SRC], r[DST]): r[VAL]
        for r in e_wise_lambda_matrix(E, fn, row_vec=rv, col_vec=cv).collect()
    }
    assert rows == {(0, 1): 12.0, (1, 0): 21.0}


def test_matrix_zip_and_set(spark):
    x = vec_df(spark, [(0, 3.0), (1, 4.0)])
    y = vec_df(spark, [(0, 5.0), (1, 6.0)])
    A = matrix_zip(x, y)
    assert {(r[SRC], r[DST]) for r in A.collect()} == {(3, 5), (4, 6)}
    z = vec_df(spark, [(0, 9.0), (1, 8.0)])
    Aw = matrix_zip(x, y, z)
    assert {(r[SRC], r[DST], r[VAL]) for r in Aw.collect()} == {
        (3, 5, 9.0),
        (4, 6, 8.0),
    }
    mask = spark.createDataFrame([(3, 5)], f"{SRC} long, {DST} long")
    out = {(r[SRC], r[DST]): r[VAL] for r in matrix_set(Aw, mask, 0.0).collect()}
    assert out == {(3, 5): 0.0, (4, 6): 8.0}


def test_outer_product(spark):
    u = vec_df(spark, [(0, 2.0), (3, 5.0)])
    v = vec_df(spark, [(1, 3.0), (2, 7.0)])
    got = {(r[SRC], r[DST]): r[VAL] for r in outer(u, v, alg.mul).collect()}
    assert got == {(0, 1): 6.0, (0, 2): 14.0, (3, 1): 15.0, (3, 2): 35.0}


def test_read_snap(spark, tmp_path):
    p = tmp_path / "g.txt"
    p.write_text("# comment\n0 1\n1 2\n\n2 0\n")
    E = read_snap_edges(spark, str(p))
    assert {(r[SRC], r[DST]) for r in E.collect()} == {(0, 1), (1, 2), (2, 0)}


def test_read_matrix_market_general(spark, tmp_path):
    p = tmp_path / "m.mtx"
    p.write_text(
        "%%MatrixMarket matrix coordinate real general\n"
        "% a comment\n"
        "3 3 2\n"
        "1 2 5.0\n"
        "3 1 7.0\n"
    )
    E, nr, nc = read_matrix_market(spark, str(p))
    assert (nr, nc) == (3, 3)
    assert {(r[SRC], r[DST], r[VAL]) for r in E.collect()} == {
        (0, 1, 5.0),
        (2, 0, 7.0),
    }


def test_read_matrix_market_pattern_symmetric(spark, tmp_path):
    p = tmp_path / "s.mtx"
    p.write_text(
        "%%MatrixMarket matrix coordinate pattern symmetric\n"
        "3 3 2\n"
        "2 1\n"
        "3 3\n"
    )
    E, nr, nc = read_matrix_market(spark, str(p))
    got = {(r[SRC], r[DST]) for r in E.collect()}
    assert got == {(1, 0), (0, 1), (2, 2)}  # off-diagonal mirrored


def test_matrix_market_rejects_skew_symmetric(spark, tmp_path):
    # the reference parser fail-stops on structures it does not model
    # (MatrixFileReaderBase.hpp:151-159); substring banner matching used
    # to treat skew-symmetric as symmetric and mirror WITHOUT negation
    import pytest

    from alp_spark.sources.readers import read_matrix_market

    p = tmp_path / "skew.mtx"
    p.write_text(
        "%%MatrixMarket matrix coordinate real skew-symmetric\n"
        "2 2 1\n"
        "2 1 3.0\n"
    )
    with pytest.raises(ValueError, match="skew-symmetric"):
        read_matrix_market(spark, str(p))
