"""k-core decomposition by iterated h-index.

Re-expresses the reference ``kcore_decomposition``
(include/graphblas/algorithms/kcore_decomposition.hpp:141-296, modelled
after Li et al., "The K-Core Decomposition Algorithm Under the Framework
of GraphBLAS", HPEC 2021) with the same exact coreness values but not
its level loop: start h(v) = deg(v) and repeatedly replace h(v) with the
h-index of its neighbours' h values — the largest k such that ≥ k
neighbours have h ≥ k. The fixpoint of this monotone operator is exactly
the coreness (Lü, Zhou, Zhang & Stanley, "The H-index of a network node
and its relation to degree and coreness", Nature Communications
7:10168, 2016). Round count is bounded by the graph's peel depth but is
empirically tens of rounds on web-shaped graphs — not one Spark job per
coreness level, which is what makes the reference's peel loop
round-bound here (VERDICT r4: 121 s at 2.4M edges; on the sf0.01 driver
graph the peel loop took 36 rounds to this engine's 8, CHANGES.md).
Per round: one join of the (src-partitioned-once, persisted) edge
table against the n-row h vector, a (dst, h)-grouped count with
map-side partial aggregation, and a cumulative-count window over the
already-aggregated per-vertex histograms; ONE driver action (change
census) per round. The reference's peel semantics stay as the test
and SQL oracles.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..containers import DST, ID, SRC
from ..loop import Loop
from ..operators.blas2 import broadcast_if_fits
from ..plans.partitions import vertex_ids

#: minimum symmetric edge count before frontier mode engages (measured
#: at its use in :func:`kcore_decomposition`)
FRONTIER_MIN_EDGES = 20_000_000


@dataclass
class KCoreResult:
    cores: DataFrame  # (id, core)
    max_k: int
    rounds: int
    history: list[dict] = field(default_factory=list)


def kcore_decomposition(
    spark: SparkSession,
    sym_edges: DataFrame,
    n: int,
    max_rounds: int = 0,
    checkpointer=None,
    checkpoint_every: int = 10,
) -> KCoreResult:
    """Coreness per vertex over an undirected graph given as a
    symmetric edge table (both directions present, no self-loops):
    iterated h-index to the fixpoint (module docstring). h is
    monotonically non-increasing per vertex, so the change census
    doubles as the convergence test; the ``least(h, hnew)`` clamp makes
    monotonicity structural rather than trusted.

    Scale shape: the edge table is hash-partitioned by src ONCE and
    persisted — the per-round join re-uses that layout (zero edge
    Exchange in steady state, the pagerank5 trick); the (dst, h) count
    partially aggregates map-side before its shuffle; the h-index
    cumulative window runs over per-vertex degree histograms (≤
    #distinct neighbour h values per vertex — hub-safe, no
    collect_list); each round is ONE :meth:`alp_spark.loop.Loop.step`
    action with the change census observed on the checkpoint.

    Resumable: the h vector is checkpointed with lineage + per-round
    metrics every ``checkpoint_every`` rounds; pass a checkpointer whose
    run holds a snapshot and the run continues from it. Its first round
    is a full recompute (the frontier set is not persisted — correct
    because a full round is always exact) and it converges to identical
    coreness."""
    with Loop(spark, "kcore", checkpointer, checkpoint_every) as loop:
        # size-derived cached layout (guide §2; conf-capped — identical
        # at scale); the count doubles as the frontier-mode gate input
        sym_edges, m_sym = loop.cache(sym_edges, key=SRC)

        if loop.resumed is not None:
            h = loop.resumed.select(ID, "h")
        else:
            deg = sym_edges.groupBy(F.col(SRC).alias(ID)).agg(
                F.count("*").alias("h")
            )
            h = (
                vertex_ids(spark, n)
                .join(deg, on=ID, how="left")
                .select(ID, F.coalesce("h", F.lit(0)).alias("h"))
            )
        h, _ = loop.checkpoint(h)

        # frontier mode: h(v) can change in round r only if a neighbour's
        # h changed in round r-1, so once the change census falls below
        # this, recompute only N(changed) — both semi-joins broadcast
        # while the gate admits them (N(changed) is bounded only by n),
        # the edge table never moves, and late-round cost tracks the
        # frontier rather than the full edge count (the long tail of the
        # fixpoint is many rounds × few changes). Fixed 50k, measured on
        # the 158.6M-edge Zipf graph (BASELINE.md r5): full engine 817 s,
        # 50k threshold 629 s; an adaptive n/8 (=500k) threshold
        # REGRESSED to 746 s — when the census is still a sizeable
        # fraction of n, N(changed) covers nearly the whole graph, so the
        # two semi-joins prune nothing and just add broadcast + filter
        # cost. Switch late: the frontier pays only when the frontier is
        # genuinely small.
        #
        # Also gated on edge count: below ~20M symmetric edges a full
        # round is already near the Spark job floor, and the frontier's
        # extra jobs (targets distinct + two broadcast builds) cost MORE
        # than they save — measured at graphscale 100k/4.7M edges: 29 s
        # full vs 39 s frontier; at 1M/47M edges frontier wins
        # (116 → 100 s) and at 158.6M edges it wins 817 → 629 s.
        frontier_threshold = 50_000
        frontier_enabled = m_sym >= FRONTIER_MIN_EDGES
        # the first round (also on resume) recomputes everything
        nch = None

        while True:
            if frontier_enabled and nch is not None and nch <= frontier_threshold:
                changed_prev = h.where(F.col("_old") != F.col("h")).select(ID)
                targets = (
                    sym_edges.join(
                        broadcast_if_fits(
                            changed_prev.select(F.col(ID).alias(SRC)), nch
                        ),
                        on=SRC,
                        how="left_semi",
                    )
                    .select(F.col(DST).alias(ID))
                    .distinct()
                )
                ef = sym_edges.join(
                    # distinct ids: n bounds |N(changed)|
                    broadcast_if_fits(targets.select(F.col(ID).alias(DST)), n),
                    on=DST,
                    how="left_semi",
                )
            else:
                ef = sym_edges
            hs = h.select(F.col(ID).alias(SRC), F.col("h").alias("_hs"))
            hist = (
                ef.join(hs, on=SRC)
                .groupBy(F.col(DST).alias(ID), F.col("_hs").alias("_c"))
                .agg(F.count("*").alias("_m"))
            )
            w = (
                Window.partitionBy(ID)
                .orderBy(F.desc("_c"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            # h-index over grouped values: max over distinct c of
            # min(c, #neighbours with h >= c)
            cand = (
                hist.withColumn("_cum", F.sum("_m").over(w))
                .groupBy(ID)
                .agg(F.max(F.least(F.col("_c"), F.col("_cum"))).alias("_hnew"))
            )
            nxt = h.join(cand, on=ID, how="left").select(
                ID,
                F.col("h").alias("_old"),
                # null _hnew = not recomputed this round (frontier mode)
                # or edge-less vertex (full mode, where h is already its
                # fixpoint 0) — keep h either way
                F.when(
                    F.col("_hnew").isNotNull(),
                    F.least(F.col("h"), F.col("_hnew")),
                )
                .otherwise(F.col("h"))
                .alias("h"),
            )
            # ONE action: checkpoint + change census + max h; _old stays
            # in the frame for the next round's frontier
            h, stats = loop.step(
                nxt,
                stage="hindex",
                replaces=h,
                changed=F.sum((F.col("_old") != F.col("h")).cast("long")),
                max_h=F.max("h"),
            )
            nch = int(stats["changed"] or 0)
            if nch == 0 or (max_rounds and loop.round >= max_rounds):
                break

        max_h = int(stats["max_h"] or 0)
        loop.finish(h, changed=nch, max_h=max_h)
    return KCoreResult(
        cores=h.select(ID, F.col("h").alias("core")),
        max_k=max_h,
        rounds=loop.round,
        history=loop.history,
    )
