"""BLAS-3 matrix-matrix primitives (SURVEY.md §2.6).

Ref: ``mxm`` spec base/blas3.hpp:94, impl ``mxm_generic``
reference/blas3.hpp:75-335 (Gustavson two-phase symbolic+numeric — Spark's
dynamic shuffle materialisation makes the symbolic phase unnecessary);
``outer`` reference/blas3.hpp:805; matrix ``eWiseApply``
reference/blas3.hpp:927-1259.

The reference backend ships *unmasked* SpGEMM only ("reference, unmasked",
reference/blas3.hpp:101); the masked variant needed for triangle counting
is composed here by semi-joining candidate (i,k) pairs against the mask
edge set BEFORE aggregation — pruning the shuffle, which is the whole
point at 100TB (a full A² materialisation is quadratic in hub degree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..algebra import BinOp, Monoid, Semiring
from ..containers import DST, ID, SRC, VAL


def mxm(
    A: DataFrame,
    B: DataFrame,
    semiring: Semiring,
    mask: DataFrame | None = None,
    transpose_left: bool = False,
    transpose_right: bool = False,
) -> DataFrame:
    """C = A ⊙.⊕ B: C[i,k] = ⊕_j A[i,j] ⊗ B[j,k] (base/blas3.hpp:94).

    Join on the contraction index, group by (i,k). ``mask`` (our
    composition, not shipped by ALP) keeps only (i,k) present in the mask
    edge set, applied pre-aggregation. Transpose descriptors
    (descriptors.hpp:219/225) are column swaps.
    """
    a_i, a_j = (DST, SRC) if transpose_left else (SRC, DST)
    b_j, b_k = (DST, SRC) if transpose_right else (SRC, DST)

    a = A.select(
        F.col(a_i).alias("i"),
        F.col(a_j).alias("j"),
        (F.col(VAL) if VAL in A.columns else F.lit(semiring.one)).alias("_a"),
    )
    b = B.select(
        F.col(b_j).alias("j"),
        F.col(b_k).alias("k"),
        (F.col(VAL) if VAL in B.columns else F.lit(semiring.one)).alias("_b"),
    )
    prod = a.join(b, on="j", how="inner")
    if mask is not None:
        prod = prod.join(
            mask.select(F.col(SRC).alias("i"), F.col(DST).alias("k")),
            on=["i", "k"],
            how="left_semi",
        )
    return (
        prod.groupBy("i", "k")
        .agg(semiring.add.agg(semiring.mul(F.col("_a"), F.col("_b"))).alias(VAL))
        .select(F.col("i").alias(SRC), F.col("k").alias(DST), F.col(VAL))
    )


def outer(u: DataFrame, v: DataFrame, mul_op: BinOp) -> DataFrame:
    """Rank-1 outer product A[i,j] = u[i] ⊗ v[j] (reference/blas3.hpp:805).
    No broadcast hint: the planner picks the cross join from the sides'
    size statistics."""
    uu = u.select(F.col("id").alias(SRC), F.col(VAL).alias("_u"))
    vv = v.select(F.col("id").alias(DST), F.col(VAL).alias("_v"))
    return uu.crossJoin(vv).select(
        SRC, DST, mul_op(F.col("_u"), F.col("_v")).alias(VAL)
    )


def e_wise_apply_matrix(
    A: DataFrame,
    B: DataFrame,
    op: BinOp,
    monoid: Monoid | None = None,
) -> DataFrame:
    """Entrywise matrix combine (reference/blas3.hpp:927): operator form =
    structure intersection (inner join on (src,dst)), monoid form = union
    (full outer + identity coalesce) — mirroring the BLAS-1 rule."""
    a_val = F.col("_a") if VAL in A.columns else F.lit(True)
    b_val = F.col("_b") if VAL in B.columns else F.lit(True)
    a = A.select(
        SRC, DST, (F.col(VAL) if VAL in A.columns else F.lit(True)).alias("_a")
    )
    b = B.select(
        SRC, DST, (F.col(VAL) if VAL in B.columns else F.lit(True)).alias("_b")
    )
    if monoid is None:
        return (
            a.join(b, on=[SRC, DST], how="inner")
            .select(SRC, DST, op(a_val, b_val).alias(VAL))
        )
    ident = monoid.lit_identity()
    return (
        a.join(b, on=[SRC, DST], how="full_outer")
        .select(
            SRC,
            DST,
            monoid.op(F.coalesce(a_val, ident), F.coalesce(b_val, ident)).alias(VAL),
        )
    )


def matrix_zip(
    x: DataFrame, y: DataFrame, z: DataFrame | None = None
) -> DataFrame:
    """Build a matrix from index/value vectors (zip(A, x, y[, z]),
    base/blas3.hpp:181/223; impl matrix_zip_generic
    reference/blas3.hpp:464): A[x[i], y[i]] = z[i] (pattern if z absent).
    Vectors align on their shared ids (intersection)."""
    xx = x.select(F.col(ID), F.col(VAL).alias("_r"))
    yy = y.select(F.col(ID), F.col(VAL).alias("_c"))
    j = xx.join(yy, on=ID, how="inner")
    if z is None:
        return j.select(F.col("_r").alias(SRC), F.col("_c").alias(DST))
    zz = z.select(F.col(ID), F.col(VAL).alias("_v"))
    return j.join(zz, on=ID, how="inner").select(
        F.col("_r").alias(SRC), F.col("_c").alias(DST), F.col("_v").alias(VAL)
    )


def matrix_set(A: DataFrame, mask: DataFrame, value) -> DataFrame:
    """grb::set matrix←masked value (reference/io.hpp:974/1080/1117):
    overwrite the values of nonzeroes selected by a structural edge mask."""
    hit = A.join(mask.select(SRC, DST), on=[SRC, DST], how="left_semi").select(
        SRC, DST, F.lit(value).alias(VAL)
    )
    rest_cols = [SRC, DST] + ([VAL] if VAL in A.columns else [])
    rest = A.select(*rest_cols).join(
        mask.select(SRC, DST), on=[SRC, DST], how="left_anti"
    )
    if VAL not in A.columns:
        rest = rest.withColumn(VAL, F.lit(None).cast(hit.schema[VAL].dataType))
    return hit.unionByName(rest)
