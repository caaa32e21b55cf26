"""Matrix powers y = Aᵏx and k-hop neighbourhoods.

- mpv: include/graphblas/algorithms/mpv.hpp:94-177 — k repeated mxv with
  double-buffer swap. (For the boolean reachability ring the reference's
  buffer reuse is value-equivalent to a fresh output per hop, which is
  what a DataFrame naturally gives.)
- knn: include/graphblas/algorithms/knn.hpp:82-140 — u = ((A+I)ᵀ)ᵏ·e_src
  under the (or, and) ring via mpv with add_identity|transpose; the
  neighbourhood size is nnz(u).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .. import algebra as alg
from ..containers import DST, ID, SRC, add_identity, set_element
from ..loop import Loop
from ..operators import mxv


def mpv(
    spark: SparkSession,
    A: DataFrame,
    k: int,
    v: DataFrame,
    ring: alg.Semiring,
    transpose: bool = False,
    frontier_nnz: int | None = None,
) -> DataFrame:
    """u = Aᵏ·v under ``ring`` (mpv.hpp:94).

    ``frontier_nnz``: driver-known bound on nnz(u) across hops — gates
    a static broadcast plan per hop (the vxm strategy input).

    ``A`` is cached once, keyed by the column each hop joins on, and
    every hop is one eager step that releases the hop before it; the
    returned frame is the last hop's checkpoint."""
    with Loop(spark, "mpv") as loop:
        A, _ = loop.cache(A, key=SRC if transpose else DST)
        u = v
        for _ in range(k):
            u, _ = loop.step(
                mxv(A, u, ring, transpose=transpose, frontier_nnz=frontier_nnz),
                replaces=u,
            )
        loop.finish(u)
    return u


@dataclass
class KnnResult:
    reached: DataFrame  # (id, val=true)
    size: int


def knn(
    spark: SparkSession,
    A: DataFrame,
    n: int,
    source: int,
    k: int,
) -> KnnResult:
    """k-hop neighbourhood of ``source`` (knn.hpp:82): forward reachability
    within ≤ k hops, self included (add_identity); reference golden is the
    neighbourhood SIZE (smoketests.sh:129)."""
    onehot = set_element(spark, source, True)
    # knn.hpp:129-135: mpv with transpose ⇒ u = (Mᵀ)ᵏ e_src, M = A+I
    u = mpv(
        spark, add_identity(A, spark, n), k, onehot, alg.OR_AND,
        transpose=True, frontier_nnz=n,
    )
    reached = u.where("val").select(ID, "val")
    return KnnResult(reached=reached, size=reached.count())
