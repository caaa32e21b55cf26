"""Krylov solvers: conjugate gradient and BiCGstab.

Transliterate the reference algorithms
(include/graphblas/algorithms/conjugate_gradient.hpp:208-426 and
include/graphblas/algorithms/bicgstab.hpp:160-480) as compositions of
the engine's own primitives: every vector op is a Column expression over
ONE fused state DataFrame ``(id, x, r, u, ...)`` (the analog of ALP's
registered dense vectors), every SpMV is one edge-join + groupBy
(operators.mxv), and every scalar reduction (dot) is the observed census
of the :class:`alp_spark.loop.Loop` checkpoint that produces its
operands — one Spark action per dot, ALP's ``grb::dot`` allreduce. Each
iteration's last action is its step; the results carry ``history``.

Reference parity notes:
- CG stops when sqrt(r'r) < tol·sqrt(b'b) or FAILED at max_iterations
  (conjugate_gradient.hpp:326-395); per iteration: 1 SpMV + 2 scalar
  reductions (u'Au and the new r'r), exactly the reference count.
- BiCGstab squares the relative tolerance (tol² · b'b,
  bicgstab.hpp:278-279), has the pre-/post-stabilisation exits and the
  rho/alpha-denominator/omega-denominator breakdown FAILED paths
  (bicgstab.hpp:339/371/417).

Scale: per-iteration cost is one (or two) edge shuffles + O(1)-cell
observed aggregates; the state frame is n rows × a handful of doubles.
The solvers target SPD / square systems, not the link-graph hot path —
they exist for reference algorithm-surface parity (smoketests.sh gyro_m
pair).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import algebra as alg
from ..containers import ID, VAL, set_dense
from ..loop import Loop
from ..operators import mxv
from ..plans.partitions import vertex_ids


@dataclass
class SolveResult:
    x: DataFrame  # (id, val)
    iterations: int
    residual: float  # CG: sqrt(r'r); BiCGstab: (r'r) — reference conventions
    converged: bool  # False ⇔ reference FAILED
    history: list[dict] = field(default_factory=list)  # one per iteration


def _state_mxv(A: DataFrame, state: DataFrame, col: str, n: int) -> DataFrame:
    """(id, t) = A · state[col] via the engine mxv (one shuffle)."""
    v = state.select(ID, F.col(col).alias(VAL))
    t = mxv(A, v, alg.PLUS_TIMES, strategy="auto", frontier_nnz=n)
    return t.select(ID, F.col(VAL).alias("_t"))


def _join_t(state: DataFrame, t: DataFrame) -> DataFrame:
    return state.join(t, on=ID, how="left").withColumn(
        "_t", F.coalesce(F.col("_t"), F.lit(0.0))
    )


def _residual0(
    spark: SparkSession, A: DataFrame, b: DataFrame, n: int, x0: DataFrame | None
) -> DataFrame:
    """(id, x, _b, _t, r) with r = b - A·x0 (x0 = 0 when None)."""
    x = x0 if x0 is not None else set_dense(spark, n, 0.0)
    st = (
        x.select(ID, F.col(VAL).alias("x"))
        .join(b.select(ID, F.col(VAL).alias("_b")), on=ID, how="left")
        .withColumn("_b", F.coalesce(F.col("_b"), F.lit(0.0)))
    )
    return _join_t(st, _state_mxv(A, st, "x", n)).withColumn("r", F.col("_b") - F.col("_t"))


def conjugate_gradient(
    spark: SparkSession,
    A: DataFrame,  # (src, dst, val) symmetric positive definite
    b: DataFrame,  # (id, val) dense
    n: int,
    x0: DataFrame | None = None,
    tol: float = 1e-5,
    max_iterations: int = 1000,
) -> SolveResult:
    """Solve Ax = b (conjugate_gradient.hpp:208-426).

    Stops when sqrt(r'r) < tol·sqrt(b'b); ``converged=False`` mirrors the
    reference FAILED code at the iteration cap."""
    if tol <= 0:
        raise ValueError("tol must be positive (reference ILLEGAL)")
    with Loop(spark, "conjugate_gradient") as loop:
        # every Krylov step's SpMV scans the matrix
        A, _ = loop.cache(A, key="dst")
        # r = b - A x0;  u = r  (conjugate_gradient.hpp:283-298)
        st, stats = loop.checkpoint(
            _residual0(spark, A, b, n, x0).select(
                ID, "x", "r", F.col("r").alias("u"), "_b"
            ),
            sigma=F.sum(F.col("r") * F.col("r")),
            bnorm=F.sum(F.col("_b") * F.col("_b")),
        )
        sigma = float(stats["sigma"] or 0.0)
        eff_tol = tol * math.sqrt(float(stats["bnorm"] or 0.0))  # (:327)

        residual, cur = sigma, st
        while math.sqrt(residual) >= eff_tol:
            # temp = A u; beta = u' A u  (:338-360)
            au, stats = loop.checkpoint(
                _join_t(cur, _state_mxv(A, cur, "u", n)), stage="spmv", replaces=st,
                denom=F.sum(F.col("u") * F.col("_t")),
            )
            alpha = sigma / float(stats["denom"])
            # x += alpha u; r -= alpha (A u)  (:366-376)
            st, stats = loop.step(
                au.select(
                    ID,
                    (F.col("x") + alpha * F.col("u")).alias("x"),
                    (F.col("r") - alpha * F.col("_t")).alias("r"),
                    "u",
                ),
                replaces=au,
                rr=F.sum(F.col("r") * F.col("r")),
            )
            residual = float(stats["rr"])
            if loop.round >= max_iterations:
                break
            # u = r + (beta/sigma) u; sigma = beta  (:399-412)
            alpha2 = residual / sigma
            cur = st.select(ID, "x", "r", (F.col("r") + alpha2 * F.col("u")).alias("u"))
            sigma = residual
        loop.finish(st)
    return SolveResult(
        x=st.select(ID, F.col("x").alias(VAL)),
        iterations=loop.round,
        residual=math.sqrt(residual),
        converged=math.sqrt(residual) < eff_tol,
        history=loop.history,
    )


def bicgstab(
    spark: SparkSession,
    A: DataFrame,  # (src, dst, val) square (need not be symmetric)
    b: DataFrame,  # (id, val) dense
    n: int,
    x0: DataFrame | None = None,
    tol: float = 1e-5,
    max_iterations: int = 1000,
) -> SolveResult:
    """Solve Ax = b by stabilised bi-conjugate gradients
    (bicgstab.hpp:160-480). Residual convention is the SQUARED 2-norm
    checked against tol²·(b'b) (bicgstab.hpp:278-311)."""
    if tol <= 0:
        raise ValueError("tol must be positive (reference ILLEGAL)")
    with Loop(spark, "bicgstab") as loop:
        A, _ = loop.cache(A, key="dst")
        # r = b - Ax; rhat = r (fixed shadow); p = v = 0  (bicgstab.hpp:283-321)
        st, stats = loop.checkpoint(
            _residual0(spark, A, b, n, x0).select(
                ID, "x", "r", F.col("r").alias("rhat"),
                F.lit(0.0).alias("p"), F.lit(0.0).alias("v"), "_b",
            ),
            res=F.sum(F.col("r") * F.col("r")),
            bnorm=F.sum(F.col("_b") * F.col("_b")),
        )
        residual = float(stats["res"] or 0.0)
        eff_tol = tol * tol * float(stats["bnorm"] or 0.0)  # (bicgstab.hpp:278-279)

        rho_old = alpha = omega = 1.0
        # rho = (rhat, r) with rhat == r at entry, so the first iteration's
        # rho IS the init residual; each later iteration's rho is observed
        # with the tail residual check, on the round's step.
        rho = residual
        cur = st.drop("_b")
        converged = residual < eff_tol
        # Every iteration ends in one step; an early exit steps the frame
        # the result reads, so each counted iteration has a history entry.
        while not converged and loop.round < max_iterations:
            # rho = (rhat, r); breakdown → FAILED  (bicgstab.hpp:333-343)
            if rho == 0.0:
                st, _ = loop.step(cur, replaces=st)
                break
            beta = (rho / rho_old) * (alpha / omega)
            # p = r + beta (p - omega v)  (:353-363)
            p = cur.withColumn("p", F.col("r") + beta * (F.col("p") - omega * F.col("v")))
            # v = A p; alpha = rho / (rhat, v)  (:366-378)
            st, stats = loop.checkpoint(
                _join_t(p.drop("v"), _state_mxv(A, p, "p", n)).withColumnRenamed("_t", "v"),
                stage="v", replaces=st, denom=F.sum(F.col("rhat") * F.col("v")),
            )
            if float(stats["denom"]) == 0.0:
                st, _ = loop.step(st, replaces=st)
                break
            alpha = rho / float(stats["denom"])
            # s = r - alpha v; pre-stabilisation exit  (:385-406)
            st, stats = loop.checkpoint(
                st.withColumn("s", F.col("r") - alpha * F.col("v")),
                stage="s", replaces=st, ss=F.sum(F.col("s") * F.col("s")),
            )
            residual = float(stats["ss"])
            if residual < eff_tol:
                st, _ = loop.step(
                    st.select(
                        ID, (F.col("x") + alpha * F.col("p")).alias("x"),
                        "r", "rhat", "p", "v",
                    ),
                    replaces=st,
                )
                converged = True
                break
            # t = A s; omega = (t,s)/(t,t)  (:409-429)
            st, stats = loop.checkpoint(
                _join_t(st, _state_mxv(A, st, "s", n)), stage="t", replaces=st,
                ts=F.sum(F.col("_t") * F.col("s")),
                tt=F.sum(F.col("_t") * F.col("_t")),
            )
            ts, tt = float(stats["ts"]), float(stats["tt"])
            if ts == 0.0:
                st, _ = loop.step(st.drop("s", "_t"), replaces=st)
                break
            omega = ts / tt
            # x += alpha p + omega s; r = s - omega t  (:432-442), with the
            # residual check AND the next iteration's rho on the same step
            st, stats = loop.step(
                st.select(
                    ID,
                    (F.col("x") + alpha * F.col("p") + omega * F.col("s")).alias("x"),
                    (F.col("s") - omega * F.col("_t")).alias("r"),
                    "rhat", "p", "v",
                ),
                replaces=st,
                res=F.sum(F.col("r") * F.col("r")),
                rho=F.sum(F.col("rhat") * F.col("r")),
            )
            residual = float(stats["res"])
            converged = residual < eff_tol
            rho_old, rho = rho, float(stats["rho"])
            cur = st
        loop.finish(st)
    return SolveResult(
        x=st.select(ID, F.col("x").alias(VAL)),
        iterations=loop.round,
        residual=residual,
        converged=converged,
        history=loop.history,
    )


# --- complex-valued CG (the reference smoke's _CG_COMPLEX variant,
# tests/smoke/conjugate_gradient.cpp:36-37) ----------------------------------

@dataclass
class ComplexSolveResult:
    x: DataFrame  # (id, re, im)
    iterations: int
    residual: float
    converged: bool
    history: list[dict] = field(default_factory=list)  # one per iteration


def _cmxv(A: DataFrame, st: DataFrame, rc: str, ic: str) -> DataFrame:
    """(id, _tr, _ti) = A · (st[rc] + i·st[ic]) — one edge join +
    groupBy with both component sums in a single aggregation."""
    v = st.select(
        F.col(ID).alias("_vid"), F.col(rc).alias("_vr"), F.col(ic).alias("_vi")
    )
    return (
        A.join(v, A["dst"] == v["_vid"])
        .groupBy(F.col("src").alias(ID))
        .agg(
            F.sum(F.col("re") * F.col("_vr") - F.col("im") * F.col("_vi")).alias("_tr"),
            F.sum(F.col("re") * F.col("_vi") + F.col("im") * F.col("_vr")).alias("_ti"),
        )
    )


def _cjoin_t(st: DataFrame, t: DataFrame) -> DataFrame:
    return (
        st.join(t, on=ID, how="left")
        .withColumn("_tr", F.coalesce(F.col("_tr"), F.lit(0.0)))
        .withColumn("_ti", F.coalesce(F.col("_ti"), F.lit(0.0)))
    )


def _cax(re, im, alpha: complex):
    """(re + i·im) · alpha as a (re_expr, im_expr) pair of Columns."""
    ar, ai = float(alpha.real), float(alpha.imag)
    return (re * ar - im * ai, re * ai + im * ar)


def conjugate_gradient_complex(
    spark: SparkSession,
    A: DataFrame,  # (src, dst, re, im) Hermitian positive definite
    b: DataFrame,  # (id, re, im) dense
    n: int,
    tol: float = 1e-5,
    max_iterations: int = 1000,
    x0: complex = 0j,
) -> ComplexSolveResult:
    """CG over ℂ (conjugate_gradient.hpp:159-426 with the is_complex
    conjugations at :303/:317/:348/:382): every dot is the Hermitian
    inner product ⟨a,b⟩ = Σ conj(a)·b, carried as a Python complex
    scalar (re+im aggregates observed on ONE checkpoint); vectors are
    (re, im) double column pairs — the struct-typed analog of the
    reference's std::complex IOType. Residual convention: sqrt|r̄·r| <
    tol·sqrt|b̄·b|. ``x0`` is a constant initial guess (the smoke test
    starts at 1/n, tests/smoke/conjugate_gradient.cpp:138); r0 = b - A·x0
    via one up-front SpMV when x0 ≠ 0."""
    if tol <= 0:
        raise ValueError("tol must be positive (reference ILLEGAL)")
    with Loop(spark, "conjugate_gradient_complex") as loop:
        A, _ = loop.cache(A, key="dst")

        ids = vertex_ids(spark, n)
        st = ids.join(
            b.select(ID, F.col("re").alias("_br"), F.col("im").alias("_bi")),
            on=ID, how="left",
        ).select(
            ID,
            F.lit(float(complex(x0).real)).alias("x_re"),
            F.lit(float(complex(x0).imag)).alias("x_im"),
            F.coalesce("_br", F.lit(0.0)).alias("r_re"),
            F.coalesce("_bi", F.lit(0.0)).alias("r_im"),
            F.coalesce("_br", F.lit(0.0)).alias("_br"),
            F.coalesce("_bi", F.lit(0.0)).alias("_bi"),
        )
        if complex(x0) != 0j:
            # r0 = b - A·x0 (constant-x0 SpMV folds to one edge aggregation)
            st = _cjoin_t(st, _cmxv(A, st, "x_re", "x_im")).select(
                ID, "x_re", "x_im",
                (F.col("r_re") - F.col("_tr")).alias("r_re"),
                (F.col("r_im") - F.col("_ti")).alias("r_im"),
                "_br", "_bi",
            )
        # sigma = r̄·r is real; bnorm = b̄·b is the same dot when x0 = 0
        # (conjugate_gradient.hpp:313-327)
        st, stats = loop.checkpoint(
            st.select(
                ID, "x_re", "x_im", "r_re", "r_im",
                F.col("r_re").alias("u_re"), F.col("r_im").alias("u_im"), "_br", "_bi",
            ),
            sr=F.sum(F.col("r_re") ** 2 + F.col("r_im") ** 2),
            bn=F.sum(F.col("_br") ** 2 + F.col("_bi") ** 2),
        )
        sigma = complex(float(stats["sr"] or 0.0), 0.0)
        eff_tol = tol * math.sqrt(float(stats["bn"] or 0.0))

        residual = abs(sigma)
        cur = st.drop("_br", "_bi")
        while math.sqrt(residual) >= eff_tol and loop.round < max_iterations:
            # denom = ū·(Au): Hermitian dot, both parts on one checkpoint
            au, stats = loop.checkpoint(
                _cjoin_t(cur, _cmxv(A, cur, "u_re", "u_im")),
                stage="spmv", replaces=st,
                dr=F.sum(F.col("u_re") * F.col("_tr") + F.col("u_im") * F.col("_ti")),
                di=F.sum(F.col("u_re") * F.col("_ti") - F.col("u_im") * F.col("_tr")),
            )
            alpha = sigma / complex(float(stats["dr"]), float(stats["di"]))
            au_r, au_i = _cax(F.col("u_re"), F.col("u_im"), alpha)
            at_r, at_i = _cax(F.col("_tr"), F.col("_ti"), alpha)
            st, stats = loop.step(
                au.select(
                    ID,
                    (F.col("x_re") + au_r).alias("x_re"),
                    (F.col("x_im") + au_i).alias("x_im"),
                    (F.col("r_re") - at_r).alias("r_re"),
                    (F.col("r_im") - at_i).alias("r_im"),
                    "u_re", "u_im",
                ),
                replaces=au,
                rr=F.sum(F.col("r_re") ** 2 + F.col("r_im") ** 2),
            )
            beta = complex(float(stats["rr"]), 0.0)  # r̄·r real
            residual = abs(beta)
            k = beta / sigma
            ku_r, ku_i = _cax(F.col("u_re"), F.col("u_im"), k)
            cur = st.select(
                ID, "x_re", "x_im", "r_re", "r_im",
                (F.col("r_re") + ku_r).alias("u_re"),
                (F.col("r_im") + ku_i).alias("u_im"),
            )
            sigma = beta
        loop.finish(st)
    return ComplexSolveResult(
        x=st.select(ID, F.col("x_re").alias("re"), F.col("x_im").alias("im")),
        iterations=loop.round,
        residual=math.sqrt(residual),
        converged=math.sqrt(residual) < eff_tol,
        history=loop.history,
    )
