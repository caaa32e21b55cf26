"""Connected components via FastSV: the O(log n)-round at-scale path.

The Pregel max-label flood (connected_components.py, transliterating
pregel_connected_components.hpp:47-169) is the reference-shaped
algorithm; its round count is the graph DIAMETER, which is the wrong
currency on a 10^12-document web graph whose long chains (redirect
ladders, pagination trails) push the flood into hundreds of supersteps.
FastSV (Zhang, Azad, Buluc, "FastSV: A Distributed-Memory Connected
Component Algorithm with Fast Convergence", SIAM PP 2020) converges in
O(log n) rounds regardless of diameter, and is itself formulated in
the GraphBLAS vocabulary the reference ships — per round:

  gp   = f[f]                      (extract,  base/blas1.hpp gather)
  mh_u = min over edges (u,v) of gp[v]
                                   (mxv under the (min, second) ring,
                                    base/blas2.hpp:1188 semantics)
  f[f[u]] <- min(f[f[u]], mh_u)    (stochastic hooking: assign-min)
  f[u]    <- min(f[u],    mh_u)    (aggressive hooking:  eWiseApply min)
  f[u]    <- min(f[u],    gp[u])   (shortcutting:        eWiseApply min)

so this is ALP algebra in DataFrame form, not a foreign algorithm.
Final labels are the component MINIMUM vertex id (hooking is min-wise
and roots only ever decrease), versus the flood's reference-mandated
maximum — both are canonical component ids.

Scale shape: the edge table is hash-partitioned by dst ONCE and
persisted (the pagerank5 layout trick) — the per-round neighbour pull
joins on dst with zero edge Exchange in steady state; the (src, min)
aggregation partially aggregates map-side, so hub in-degree skew never
reaches the reduce side; the grandparent extract joins f.f against the
UNIQUE-keyed parent side, the shape AQE skew-split handles by
replicating the unique side under a hot key (a giant component's root
is hot by construction — this is the one intentionally skew-bearing
join, and it is a lookup, not a pairing). Each round is one
:meth:`alp_spark.loop.Loop.step` (one action, change census included).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..containers import DST, ID, SRC
from ..loop import Loop
from ..operators.blas2 import broadcast_if_fits
from ..plans.partitions import vertex_ids


@dataclass
class FastSVResult:
    labels: DataFrame  # (id, label) — label = min vertex id of component
    rounds: int
    history: list[dict] = field(default_factory=list)


def fastsv_components(
    spark: SparkSession,
    sym_edges: DataFrame,
    n: int,
    max_rounds: int = 0,
    checkpointer=None,
    checkpoint_every: int = 10,
    vertices: DataFrame | None = None,
) -> FastSVResult:
    """Exact connected components of an undirected graph given as a
    symmetric edge table (both directions present, no self-loops).
    Labels are the minimum vertex id per component.

    ``vertices`` (one ``id`` column) overrides the default contiguous
    ``range(n)`` vertex set — ids may then be arbitrary longs (e.g.
    doc_ids in the near-dup clustering pipeline); ``n`` is ignored.

    Resumable: the parent vector ``f`` is checkpointed with lineage +
    per-round metrics every ``checkpoint_every`` rounds; pass a
    checkpointer whose run holds a snapshot and the run continues from
    it to identical labels (each round is a deterministic min-fold of
    the previous ``f`` over the same edges)."""
    with Loop(spark, "fastsv", checkpointer, checkpoint_every) as loop:
        # size-derived cached layout (guide §2): the loop re-scans E
        # every round; partition count follows the measured row count,
        # capped at the conf parallelism (identical layout at scale).
        E, _ = loop.cache(sym_edges.select(SRC, DST), key=DST)

        # f: the parent (Shiloach-Vishkin forest) vector, init f[i] = i
        if loop.resumed is not None:
            f = loop.resumed.select(ID, "f")
        else:
            base = (
                vertices.select(F.col(vertices.columns[0]).alias("id"))
                if vertices is not None
                else vertex_ids(spark, n)
            )
            f = base.select(F.col("id").alias(ID), F.col("id").alias("f"))
        # driver-known vector size gates STATIC broadcast plans for the
        # per-round f-joins (no AQE both-sides materialization barrier —
        # the hits5 measurement); it is observed on the checkpoint
        f, stats = loop.checkpoint(f, n=F.count(F.lit(1)))
        n_vert = stats["n"]

        while True:
            # gp[i] = f[f[i]] — parent side is unique-keyed (id), child
            # side joins on its f value (skewed toward roots; lookup shape)
            par = f.select(F.col(ID).alias("_p"), F.col("f").alias("_gpv"))
            gp = f.join(
                broadcast_if_fits(par, n_vert), on=F.col("f") == F.col("_p")
            ).select(ID, "f", F.col("_gpv").alias("gp"))

            # mh[u] = min over neighbours v of gp[v] — mxv (min, second):
            # edges stay in their dst-hash layout; map-side partial min
            gp_dst = gp.select(F.col(ID).alias(DST), F.col("gp").alias("_g"))
            mh = (
                E.join(broadcast_if_fits(gp_dst, n_vert), on=DST)
                .groupBy(F.col(SRC).alias(ID))
                .agg(F.min("_g").alias("_mh"))
            )

            # three min-candidate streams, routed additively (unionByName
            # — the stat-compounding-safe shape) then one grouped min:
            cand = (
                # stochastic hooking: mh[u] applied at id = f[u]
                gp.join(mh, on=ID)
                .select(F.col("f").alias(ID), F.col("_mh").alias("_c"))
                # aggressive hooking: mh[u] applied at u
                .unionByName(mh.select(ID, F.col("_mh").alias("_c")))
                # shortcutting: gp[u] applied at u
                .unionByName(gp.select(ID, F.col("gp").alias("_c")))
                .groupBy(ID)
                .agg(F.min("_c").alias("_c"))
            )
            nxt = f.join(cand, on=ID, how="left").select(
                ID,
                F.col("f").alias("_old"),
                F.least(F.col("f"), F.coalesce("_c", F.col("f"))).alias("f"),
            )
            # ONE action: checkpoint + change census
            f, stats = loop.step(
                nxt,
                replaces=f,
                changed=F.sum((F.col("_old") != F.col("f")).cast("long")),
            )
            nch = int(stats["changed"] or 0)
            if nch == 0 or (max_rounds and loop.round >= max_rounds):
                break

        loop.finish(f, changed=0)
    return FastSVResult(
        labels=f.select(ID, F.col("f").alias("label")),
        rounds=loop.round,
        history=loop.history,
    )
