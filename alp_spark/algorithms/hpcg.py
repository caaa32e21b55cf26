"""HPCG: multigrid-preconditioned conjugate gradient.

Transliterates the reference HPCG stack
(include/graphblas/algorithms/hpcg/):

- ``build_stencil_matrix`` — the n-dimensional halo stencil generator
  (ndim_matrix_builders.hpp matrix_generator_iterator:198-399): row i's
  columns are every grid point in the per-dimension clamped box
  ``[max(0, c_d - halo), min(size_d - 1, c_d + halo)]``, value
  ``diag_value`` on the diagonal and ``non_diag_value`` elsewhere;
  dimension 0 is the fastest-varying coordinate
  (row_generator::coords_to_rowcol:137-145). The Spark-first form is a
  ``range(n)`` scan × one literal offset-array explode — (2·halo+1)^DIMS
  structs — with the clamp as a pushed-down filter: no Python, no
  shuffle, embarrassingly parallel in n.
- coarsening — the reference builds an explicit injection matrix with
  one 1 per coarse row at the even-coordinate fine point
  (coarsener_generator_iterator:412-541, coords_to_finer_col:531-539;
  prolongation is its transpose, multigrid_v_cycle.hpp:100-117). Here
  the matrix IS the computed key: a persisted (cid, fid) map built
  from pure Column arithmetic, used as an equi-join key both ways.
- ``red_black_gauss_seidel`` — per color ``c`` (the reference's static
  stripe masks: index ≡ c mod num_colors,
  matrix_building_utils.hpp build_static_color_masks:63-89), one
  output-masked SpMV + the update ``x[i] = (r[i] - (Ax)[i] + x[i]·d)/d``
  on masked rows only (red_black_gauss_seidel.hpp __rbgs_single_step:
  24-58); a full round sweeps colors forward then backward
  (red_black_gauss_seidel.hpp:109-123). The output mask is the
  predicate ``row % C = c`` pushed into the cached stencil scan.
- ``multi_grid`` — the V-cycle (multigrid_v_cycle.hpp multi_grid:
  179-254): zero the level solution, pre-smooth, residual, restrict,
  recurse (a single smoother round at the coarsest level), prolongate
  + correct, post-smooth.
- ``hpcg`` — the preconditioned CG driver (hpcg.hpp:14-100) with the
  reference's exact update order; the β-direction update is the
  eWiseMulAdd FMA (hpcg.hpp:73-75), and each dot is one observed
  aggregate (= ALP's ``grb::dot`` allreduce shape).

Scale: every vector op is an id-equi-join over dense (id, val) frames;
the stencil matrix is built once per level and persisted (released by
:meth:`MgLevel.unpersist`); SpMV shuffles only the masked n/C output rows
after map-side partial aggregation. The CG driver runs on
:class:`alp_spark.loop.Loop` over ONE state frame ``(id, x, r, p)``: each
of the three dots per iteration (r·z, p·Ap, r·r) is the observed census
of the checkpoint that produces its operands, the last one the
iteration's step; every smoother, restriction and correction frame of
the V-cycle is an eager ``vcycle`` checkpoint, released once the
iteration's ``precondition`` checkpoint has read it. Per-iteration
driver traffic is the CG scalars — O(1) — exactly ALP's collectives.
"""

from __future__ import annotations

import itertools
import math
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..loop import Loop
from ..plans.partitions import vertex_ids

#: an eager checkpoint of the loop the V-cycle runs in (:meth:`Loop.checkpoint`)
Checkpoint = Callable[[DataFrame], DataFrame]


@dataclass
class MgLevel:
    """One level of the multigrid hierarchy (hpcg_data.hpp
    system_data/multi_grid_data): the stencil matrix, its constant
    diagonal, the stripe-color count, and — on every level but the
    coarsest — the injection map to the next coarser level."""

    A: DataFrame  # (row, col, val), persisted
    n: int
    sizes: tuple[int, ...]
    num_colors: int
    diag: float
    coarse_map: DataFrame | None = None  # (cid, fid), persisted
    coarser: "MgLevel | None" = None

    def unpersist(self) -> None:
        """Release this level's and every coarser level's frames."""
        level = self
        while level is not None:
            level.A.unpersist()
            if level.coarse_map is not None:
                level.coarse_map.unpersist()
            level = level.coarser


@dataclass
class HpcgResult:
    x: DataFrame  # (id, val) — the solution iterate
    iterations: int
    norm_residual: float
    residuals: list[float] = field(default_factory=list)  # initial, then per iteration
    history: list[dict] = field(default_factory=list)  # one per iteration


def _coords(col, sizes: tuple[int, ...]):
    """Grid coordinates of a linear index, dimension 0 fastest
    (row_generator::row_to_coords)."""
    out, stride = [], 1
    for s in sizes:
        out.append((col / F.lit(stride)).cast("long") % F.lit(s))
        stride *= s
    return out


def build_stencil_matrix(
    spark: SparkSession,
    sizes: tuple[int, ...],
    halo: int = 1,
    diag_value: float = 26.0,
    non_diag_value: float = -1.0,
) -> DataFrame:
    """The reference's n-dim halo system matrix as (row, col, val).

    Raises ValueError on the reference's ILLEGAL inputs: halo < 1, or
    any dimension smaller than the 2·halo+1 stencil width
    (matrix_generator_iterator ctor checks)."""
    if halo <= 0:
        raise ValueError("halo should be higher than 0")
    if any(s < 2 * halo + 1 for s in sizes):
        raise ValueError("Iteration halo goes beyond system sizes")
    dims = len(sizes)
    n = math.prod(sizes)
    offsets = list(itertools.product(range(-halo, halo + 1), repeat=dims))
    off_arr = F.array(
        *[
            F.struct(*[F.lit(o[d]).alias(f"d{d}") for d in range(dims)])
            for o in offsets
        ]
    )
    # layout: stencil rows (one per matrix row, each exploded to its
    # halo's nonzeros), not a per-vertex state vector
    base = spark.range(n).select(
        F.col("id").alias("row"),
        *[c.alias(f"c{d}") for d, c in enumerate(_coords(F.col("id"), sizes))],
    )
    e = base.select("row", *[f"c{d}" for d in range(dims)], F.explode(off_arr).alias("o"))
    nc = [F.col(f"c{d}") + F.col(f"o.d{d}") for d in range(dims)]
    valid = F.lit(True)
    for d in range(dims):
        valid = valid & (nc[d] >= 0) & (nc[d] < sizes[d])
    col_expr, stride = F.lit(0).cast("long"), 1
    for d in range(dims):
        col_expr = col_expr + nc[d] * F.lit(stride)
        stride *= sizes[d]
    return e.where(valid).select(
        "row",
        col_expr.alias("col"),
        F.when(col_expr == F.col("row"), F.lit(float(diag_value)))
        .otherwise(F.lit(float(non_diag_value)))
        .alias("val"),
    )


def build_coarse_map(
    spark: SparkSession, coarse_sizes: tuple[int, ...], fine_sizes: tuple[int, ...]
) -> DataFrame:
    """(cid, fid): each coarse point's injection source — the fine point
    at coordinates ``coarse_coord · step`` per dimension
    (coords_to_finer_col:531-539). Fine sizes must be exact multiples
    of coarse sizes (coarsener ctor check)."""
    steps = []
    for c, f in zip(coarse_sizes, fine_sizes):
        if c == 0 or f % c != 0:
            raise ValueError("finer sizes should be a multiple of coarser sizes")
        steps.append(f // c)
    nc = math.prod(coarse_sizes)
    coords = _coords(F.col("id"), coarse_sizes)
    fid, stride = F.lit(0).cast("long"), 1
    for d, c in enumerate(coords):
        fid = fid + c * F.lit(steps[d]) * F.lit(stride)
        stride *= fine_sizes[d]
    # layout: coarse-map rows (one per coarse point), not a per-vertex
    # state vector
    return spark.range(nc).select(F.col("id").alias("cid"), fid.alias("fid"))


def build_hpcg_system(
    spark: SparkSession,
    sizes: tuple[int, ...],
    halo: int = 1,
    diag_value: float = 26.0,
    non_diag_value: float = -1.0,
    num_colors: int = 27,
    min_phys_size: int = 4,
    max_levels: int = 1,
    coarsening_step: int = 2,
) -> MgLevel:
    """The linked level hierarchy of system_building_utils.hpp
    build_hpcg_system:40-108: stencil + stripe colors per level,
    coarsened by ``coarsening_step`` per dimension while the smallest
    dimension stays ≥ ``min_phys_size`` and at most ``max_levels``
    coarsenings."""
    n = math.prod(sizes)
    if n < num_colors:
        raise ValueError("system size is < number of colors: too small")
    top = MgLevel(
        A=build_stencil_matrix(spark, sizes, halo, diag_value, non_diag_value)
        .persist(),
        n=n,
        sizes=tuple(sizes),
        num_colors=num_colors,
        diag=float(diag_value),
    )
    level, cur_sizes, lvl = top, tuple(sizes), 0
    while (
        min(cur_sizes) // coarsening_step >= min_phys_size and lvl < max_levels
    ):
        coarse_sizes = tuple(s // coarsening_step for s in cur_sizes)
        level.coarse_map = build_coarse_map(spark, coarse_sizes, cur_sizes).persist()
        level.coarser = MgLevel(
            A=build_stencil_matrix(
                spark, coarse_sizes, halo, diag_value, non_diag_value
            ).persist(),
            n=math.prod(coarse_sizes),
            sizes=coarse_sizes,
            num_colors=num_colors,
            diag=float(diag_value),
        )
        level, cur_sizes, lvl = level.coarser, coarse_sizes, lvl + 1
    return top


def _zeros(spark: SparkSession, n: int) -> DataFrame:
    return vertex_ids(spark, n).select("id", F.lit(0.0).alias("val"))


def _spmv(A: DataFrame, x: DataFrame, row_filter=None) -> DataFrame:
    """(id, val) ← A·x; ``row_filter`` output-masks rows (pushed into
    the cached stencil scan before the shuffle)."""
    Af = A.where(row_filter) if row_filter is not None else A
    return (
        Af.join(
            x.select(F.col("id").alias("col"), F.col("val").alias("_x")), on="col"
        )
        .groupBy(F.col("row").alias("id"))
        .agg(F.sum(F.col("val") * F.col("_x")).alias("val"))
    )


def _rbgs_single_step(
    level: MgLevel, x: DataFrame, r: DataFrame, color: int, checkpoint: Checkpoint
) -> DataFrame:
    """__rbgs_single_step (red_black_gauss_seidel.hpp:24-58):
    ``x[i] = (r[i] - (A·x)[i] + x[i]·d) / d`` for i ≡ color (mod C),
    other rows unchanged. The A·x term includes the diagonal, which the
    ``+ x[i]·d`` cancels — the per-color Jacobi step that composes into
    Gauss-Seidel across the color sweep."""
    C, d = level.num_colors, level.diag
    t = _spmv(level.A, x, row_filter=F.col("row") % C == color)
    return checkpoint(
        x.join(r.select("id", F.col("val").alias("_r")), on="id")
        .join(t.select("id", F.col("val").alias("_t")), on="id", how="left")
        .select(
            "id",
            F.when(
                F.col("id") % C == color,
                (F.col("_r") - F.coalesce(F.col("_t"), F.lit(0.0)) + F.col("val") * d)
                / d,
            )
            .otherwise(F.col("val"))
            .alias("val"),
        )
    )


def run_smoother(
    level: MgLevel, x: DataFrame, r: DataFrame, steps: int, checkpoint: Checkpoint
) -> DataFrame:
    """``steps`` full RBGS rounds: forward color sweep then backward
    (red_black_gauss_seidel.hpp:109-123)."""
    C = level.num_colors
    for _ in range(steps):
        for c in list(range(C)) + list(range(C - 1, -1, -1)):
            x = _rbgs_single_step(level, x, r, c, checkpoint)
    return x


def multi_grid(
    spark: SparkSession,
    level: MgLevel,
    r: DataFrame,
    presmoother_steps: int,
    postsmoother_steps: int,
    checkpoint: Checkpoint,
) -> DataFrame:
    """One V-cycle (multigrid_v_cycle.hpp multi_grid:179-254) returning
    the level solution z for residual r."""
    z = _zeros(spark, level.n)
    if level.coarser is None:
        return run_smoother(level, z, r, 1, checkpoint)
    z = run_smoother(level, z, r, presmoother_steps, checkpoint)
    Az = _spmv(level.A, z)
    # fine residual r - A·z, dense (SpMV rows are dense here: every row
    # has a diagonal entry; coalesce guards the algebraic contract)
    fine_res = (
        r.join(Az.select("id", F.col("val").alias("_a")), on="id", how="left")
        .select("id", (F.col("val") - F.coalesce(F.col("_a"), F.lit(0.0))).alias("val"))
    )
    # restriction: r_coarse[cid] = fine_res[fid] (injection mxv)
    r_coarse = checkpoint(
        level.coarse_map.join(
            fine_res.select(F.col("id").alias("fid"), "val"), on="fid"
        ).select(F.col("cid").alias("id"), "val")
    )
    z_coarse = multi_grid(
        spark, level.coarser, r_coarse, presmoother_steps, postsmoother_steps,
        checkpoint,
    )
    # prolongation: z[fid] += z_coarse[cid] (transpose injection)
    corr = level.coarse_map.join(
        z_coarse.select(F.col("id").alias("cid"), F.col("val").alias("_c")), on="cid"
    ).select(F.col("fid").alias("id"), "_c")
    z = checkpoint(
        z.join(corr, on="id", how="left")
        .select("id", (F.col("val") + F.coalesce(F.col("_c"), F.lit(0.0))).alias("val"))
    )
    return run_smoother(level, z, r, postsmoother_steps, checkpoint)


def hpcg(
    spark: SparkSession,
    system: MgLevel,
    b: DataFrame,
    x0: DataFrame | None = None,
    with_preconditioning: bool = True,
    presmoother_steps: int = 1,
    postsmoother_steps: int = 1,
    max_iterations: int = 56,
    tolerance: float = 0.0,
) -> HpcgResult:
    """The HPCG preconditioned-CG driver (hpcg.hpp:14-100), reference
    update order; ``tolerance`` compares the RELATIVE residual norm
    (hpcg.hpp:96)."""
    if max_iterations <= 0:
        raise ValueError("max_iterations must be positive")
    A, n = system.A, system.n
    with Loop(spark, "hpcg") as loop:
        smoothed: list[DataFrame] = []  # this round's V-cycle checkpoints

        def vcycle(df: DataFrame) -> DataFrame:
            frame, _ = loop.checkpoint(df, stage="vcycle")
            smoothed.append(frame)
            return frame

        x = x0 if x0 is not None else _zeros(spark, n)
        # r = b - A·x; ONE fused state frame (id, x, r, p) from here on
        st, stats = loop.checkpoint(
            x.join(_spmv(A, x).select("id", F.col("val").alias("_a")), on="id", how="left")
            .join(b.select("id", F.col("val").alias("_b")), on="id")
            .select(
                "id",
                F.col("val").alias("x"),
                (F.col("_b") - F.coalesce(F.col("_a"), F.lit(0.0))).alias("r"),
            ),
            rr=F.sum(F.col("r") * F.col("r")),
        )
        norm0 = math.sqrt(float(stats["rr"] or 0.0))
        r_dot_z = 0.0
        while True:
            if with_preconditioning:
                r = st.select("id", F.col("r").alias("val"))
                z = multi_grid(
                    spark, system, r, presmoother_steps, postsmoother_steps, vcycle
                )
                zst = st.join(z.select("id", F.col("val").alias("z")), on="id")
            else:
                zst = st.withColumn("z", F.col("r"))
            zst, stats = loop.checkpoint(
                zst, stage="precondition", replaces=st, rz=F.sum(F.col("r") * F.col("z"))
            )
            loop.release(*smoothed)  # read into zst
            smoothed.clear()
            old, r_dot_z = r_dot_z, float(stats["rz"])
            if loop.round == 0:
                p = F.col("z")
            else:
                # C++ double division yields NaN/inf on old == 0 (e.g.
                # b ≡ 0 ⇒ z = p = 0); the loop guard below absorbs the NaN
                # — mirror that instead of raising ZeroDivisionError.
                beta = r_dot_z / old if old != 0.0 else float("nan")
                # p = beta·p + z (the reference's eWiseMulAdd FMA, hpcg.hpp:73-75)
                p = F.lit(beta) * F.col("p") + F.col("z")
            pst = zst.select("id", "x", "r", p.alias("p"))
            Ap = _spmv(A, pst.select("id", F.col("p").alias("val")))
            pst, stats = loop.checkpoint(
                pst.join(Ap.select("id", F.col("val").alias("_a")), on="id", how="left")
                .withColumn("_a", F.coalesce(F.col("_a"), F.lit(0.0))),
                stage="spmv", replaces=zst, pap=F.sum(F.col("_a") * F.col("p")),
            )
            pAp = float(stats["pap"])
            alpha = r_dot_z / pAp if pAp != 0.0 else float("nan")
            st, stats = loop.step(
                pst.select(
                    "id",
                    (F.col("x") + F.lit(alpha) * F.col("p")).alias("x"),
                    (F.col("r") - F.lit(alpha) * F.col("_a")).alias("r"),
                    "p",
                ),
                replaces=pst, rr=F.sum(F.col("r") * F.col("r")),
            )
            norm_residual = math.sqrt(float(stats["rr"]))
            # exact reference loop guard (hpcg.hpp:96): continue while
            # iter < max and norm/norm0 > tol — a NaN ratio (norm0 == 0)
            # compares false and stops, as in C++
            rel = norm_residual / norm0 if norm0 != 0.0 else float("nan")
            if not (loop.round < max_iterations and rel > tolerance):
                break
        loop.finish(st)
    return HpcgResult(
        x=st.select("id", F.col("x").alias("val")),
        iterations=loop.round,
        norm_residual=norm_residual,
        residuals=[norm0] + [math.sqrt(h["rr"]) for h in loop.history],
        history=loop.history,
    )
