"""Semi-supervised label propagation over a weighted symmetric graph.

Transliterates include/graphblas/algorithms/label.hpp:122-290 (random-walk
normalised propagation, Kamvar et al. 2003):

- diag[i] = Σ_j W[i,j] via mxv over plus-times with a ones vector
  (label.hpp:167); dinv = 1/diag (:184-187)
- iterate: fNext = W·f (mxv, :218); threshold fNext[i]·dinv[i] at 0.5
  into {0,1} (:228-231); clamp the first l seeded entries back (:238-242)
- converge when dot under (or, not_equal) finds no flip (:253);
  iteration budget ``iter < max_iterations`` starting at 1 (:210)

Returns exact {0,1} labels. The threshold+clamp step is a single Column
expression — no Python in the loop body; one mxv shuffle per iteration,
one :meth:`alp_spark.loop.Loop.step` (one action, flip census included).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import algebra as alg
from ..containers import DST, ID, VAL, set_dense
from ..loop import Loop
from ..operators import mxv


@dataclass
class LabelPropResult:
    labels: DataFrame  # (id, val) ∈ {0.0, 1.0}
    iterations: int
    converged: bool  # reference returns FAILED when not
    history: list[dict] = field(default_factory=list)


def label_propagation(
    spark: SparkSession,
    weighted_edges: DataFrame,  # (src, dst, val) symmetric
    y: DataFrame,  # (id, val) full initial labels; first l are seeds
    n: int,
    l: int,
    max_iterations: int = 1000,
) -> LabelPropResult:
    if l == 0 or n == 0:
        raise ValueError("need n > 0 and at least one seed (reference ILLEGAL)")

    with Loop(spark, "label_propagation") as loop:
        # cache the matrix once in a size-derived layout: the diag pass
        # AND every iteration's mxv scan it (it was re-derived from the
        # source plan each time before — guide §2/§5)
        weighted_edges, _ = loop.cache(weighted_edges, key=DST)

        ones = set_dense(spark, n, 1.0)
        dinv, _ = loop.cache(
            mxv(weighted_edges, ones, alg.PLUS_TIMES, frontier_nnz=n)
            .select(ID, (F.lit(1.0) / F.col(VAL)).alias("dinv")),
            resize=False,
        )

        # seeds: ids [0, l) clamped to y (mask fixture semantics, label.hpp:193)
        seeds, _ = loop.cache(
            y.where(F.col(ID) < l).select(ID, F.col(VAL).alias("_seed")),
            resize=False,
        )

        f, _ = loop.checkpoint(y)
        it = 1
        converged = False
        while it < max_iterations:
            fnext_raw = mxv(
                weighted_edges, f, alg.PLUS_TIMES, strategy="auto", frontier_nnz=n
            )
            fnext = (
                f.select(ID, F.col(VAL).alias("_prev"))
                .join(fnext_raw.select(ID, F.col(VAL).alias("_wx")), on=ID, how="left")
                .join(dinv, on=ID, how="left")
                .join(seeds, on=ID, how="left")
                .select(
                    ID,
                    F.coalesce(
                        F.col("_seed"),  # clamp seeded vertices
                        F.when(
                            F.coalesce(F.col("_wx"), F.lit(0.0)) * F.col("dinv") < 0.5,
                            F.lit(0.0),
                        ).otherwise(F.lit(1.0)),
                    ).alias(VAL),
                    "_prev",
                )
            )
            # ONE action: checkpoint + flip census — convergence is the
            # dot under (or, not_equal), label.hpp:253
            f, stats = loop.step(
                fnext,
                replaces=f,
                flips=F.sum((F.col(VAL) != F.col("_prev")).cast("long")),
            )
            if not stats["flips"]:
                converged = True
                break
            it += 1

        loop.finish(f)
    return LabelPropResult(
        labels=f.select(ID, VAL), iterations=it, converged=converged,
        history=loop.history,
    )
