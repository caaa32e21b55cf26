"""Single-source shortest paths: min-plus Bellman-Ford to fixpoint.

The reference ships this as its flagship semiring illustration
(examples/sp.cpp:104-107: the ``Semiring<min, add, infinity, zero>``
ring with repeated ``vxm`` hops, shortest_path:57-66) — hop-bounded
there; this module runs it to the fixpoint with convergence detection,
i.e. Bellman-Ford. Per round:

    x' = min(x, (min,+)-vxm of x along edges)

with the min fold against the running distance vector playing the
role of the diag(0) self-loop (the add_identity trick of
knn.hpp:129-135). The relaxation frontier is the DELTA frontier:
only out-edges of vertices whose distance CHANGED last round are
relaxed (the queue-based Bellman-Ford refinement) — exact, because a
vertex that did not change contributed the same values in the round
after it last changed and min is idempotent. Per-round support,
values, and total round count are identical to full re-relaxation;
per-round COST tracks |changed|'s out-edges instead of |reached|'s,
which is the difference between wavefront-proportional and
corpus-proportional once the reached set saturates. The driver-known
census feeds ``mxv(frontier_nnz=...)`` so a small frontier broadcasts
(zero edge movement). Rounds are bounded by the shortest-path hop
radius (≤ n−1 on any graph without negative cycles).

Scale: each round is one shuffle agg (map-side MIN combine) over the
changed frontier's out-edges, one :meth:`alp_spark.loop.Loop.step` (one
action, changed census included).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import algebra as alg
from ..containers import DST, ID, SRC, VAL, set_element
from ..loop import Loop
from ..operators import mxv


@dataclass
class SsspResult:
    dists: DataFrame  # (id, val) — reachable vertices only (sparse)
    rounds: int
    converged: bool
    history: list[dict] = field(default_factory=list)


def sssp(
    spark: SparkSession,
    A: DataFrame,
    n: int,
    source: int,
    max_rounds: int | None = None,
) -> SsspResult:
    """Shortest distances from ``source`` over weighted edges
    (src, dst, val); ``val`` must be non-negative (Bellman-Ford with
    min-plus converges in ≤ n−1 rounds then; the fixpoint test is
    exact equality of consecutive distance vectors)."""
    if not 0 <= source < n:
        raise ValueError("source out of range (reference MISMATCH)")
    if VAL not in A.columns:
        # pattern matrix: every edge costs the ring one (0.0) — mirrors
        # mpv3's pattern-ring convention
        A = A.withColumn(VAL, F.lit(0.0))
    with Loop(spark, "sssp") as loop:
        B, _ = loop.cache(A.select(SRC, DST, F.col(VAL).cast("double")), resize=False)

        x = set_element(spark, source, 0.0)
        changed = x
        nch = 1
        inf = F.lit(float("inf"))
        limit = max_rounds if max_rounds is not None else max(n - 1, 1)
        converged = False
        while loop.round < limit:
            relax = mxv(
                B, changed, alg.MIN_PLUS, transpose=True, frontier_nnz=nch
            )
            merged = (
                x.select(ID, F.col(VAL).alias("_old"))
                .join(relax.select(ID, F.col(VAL).alias("_new")), on=ID, how="full")
                .select(
                    ID,
                    F.least(
                        F.coalesce("_old", inf), F.coalesce("_new", inf)
                    ).alias(VAL),
                    (
                        F.col("_old").isNull()
                        | (F.coalesce("_new", inf) < F.col("_old"))
                    ).alias("_ch"),
                )
            )
            # ONE action: checkpoint + changed census
            x, stats = loop.step(
                merged, replaces=x, changed=F.sum(F.col("_ch").cast("long"))
            )
            nch = int(stats["changed"] or 0)
            changed = x.where("_ch").select(ID, VAL)
            if nch == 0:
                converged = True
                break
        loop.finish(x)
    return SsspResult(
        dists=x.select(ID, VAL), rounds=loop.round, converged=converged,
        history=loop.history,
    )
