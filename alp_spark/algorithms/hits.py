"""HITS (hubs & authorities) — Kleinberg's power iteration, Spark-first.

The reference ships no HITS header; like triangle counting
(SURVEY.md §2.11) the north star asks for its composition from the
engine's own primitives, and HITS is the canonical PageRank companion
on web link graphs. Per round, two SpMVs over the (plus, times) ring:

    a = Aᵀ h   (authority: sum of hub scores over in-edges)
    h = A a    (hub: sum of authority scores over out-edges)

each followed by 2-norm normalisation — expressed as
``vxm``/``vxm(transpose=True)`` (base/blas2.hpp:307 vocabulary) plus a
norm fold (the base/blas1.hpp:4056 dot idiom).

Scale shape
-----------
Each round is two shuffle aggregations (map-side partial sums absorb
hub skew, the reference/blas2.hpp:1259-1265 analog) plus two O(1)
scalar norms that ride in-plan as broadcast 1-row frames — the
allreduce shape of PageRank's residual without a driver ``collect``.
Each half-round is one eager checkpoint on
:class:`alp_spark.loop.Loop`: the authority vector a ``checkpoint``
(stage ``auth``), the hub vector the round's ``step``, each releasing
the vector it supersedes, so a round is one Spark action per vector
and lineage never grows past one round.
The normalisation itself is a literal multiply folded into the next
scan (no extra shuffle): c·(A x) = A (c·x) would even let the scalar
ride into the next SpMV, but materialising the normalised vector keeps
the per-round output exactly the textbook sequence the unrolled oracle
mirrors. Vectors stay sparse (vertices with no in/out edges are
structurally absent = 0); the 100-TB posture is identical to
``simple_pagerank``: edge table partitioned once, rounds bounded by the
pinned iteration budget.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import algebra as alg
from ..containers import ID, SRC, DST, VAL
from ..loop import Loop
from ..operators.blas2 import vxm
from ..plans.partitions import vertex_ids


@dataclass
class HitsResult:
    auth: DataFrame  # (id, val) — authority scores, unit 2-norm
    hubs: DataFrame  # (id, val) — hub scores, unit 2-norm
    rounds: int
    history: list[dict]  # one {round, wall_s} per round


def _normalize(x: DataFrame) -> DataFrame:
    """Scale x to unit 2-norm (no-op on an all-zero/empty vector).

    The norm rides along as a broadcast 1-row frame instead of a
    driver ``collect()``, so it runs inside the checkpoint's action
    rather than as a driver round-trip of its own. Same arithmetic as
    the collect form (multiply by the reciprocal), so results are
    bit-identical."""
    nrm = x.agg(F.sqrt(F.sum(F.col(VAL) * F.col(VAL))).alias("_n"))
    scale = F.when(F.col("_n") > 0, F.lit(1.0) / F.col("_n")).otherwise(
        F.lit(0.0)
    )
    return x.crossJoin(F.broadcast(nrm)).select(  # bound: one row
        ID, (F.col(VAL) * scale).alias(VAL)
    )


def hits(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    iters: int = 5,
) -> HitsResult:
    """Run ``iters`` HITS rounds on the directed edge table.

    Init h₀ = 1 on every vertex (the constant cancels under the
    first normalisation). Returns sparse vectors: a vertex absent
    from ``auth`` has no in-edges (score 0), absent from ``hubs`` no
    out-edges.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    with Loop(spark, "hits") as loop:
        # size-derived cached layout (guide §2): 2 SpMV scans of E per
        # round — empty-task overhead compounds, so partitions follow the
        # measured row count (conf-capped; unchanged at scale).
        E, _ = loop.cache(edges.select(SRC, DST))
        h = vertex_ids(spark, n).select(ID, F.lit(1.0).alias(VAL))
        a = None
        for _ in range(iters):
            # frontier_nnz=n: the score vectors are ≤ n entries by
            # construction, so the driver-known size gates a STATIC
            # broadcast plan — no AQE both-sides materialization barrier
            # per SpMV (measured 5.2 s → 3.4 s on the 5-round bench run)
            # authority: a[j] = Σ_{i→j} h[i]  (join src, group dst)
            a, _ = loop.checkpoint(
                _normalize(vxm(h, E, alg.PLUS_TIMES, frontier_nnz=n)),
                stage="auth", replaces=a,
            )
            # hub: h[i] = Σ_{i→j} a[j]  (join dst, group src)
            h, _ = loop.step(
                _normalize(vxm(a, E, alg.PLUS_TIMES, transpose=True, frontier_nnz=n)),
                replaces=h,
            )
        loop.finish(a, h)
    return HitsResult(auth=a, hubs=h, rounds=iters, history=loop.history)
