"""k-core decomposition: iterated h-index (default) and algebraic peeling.

Re-expresses the reference ``kcore_decomposition``
(include/graphblas/algorithms/kcore_decomposition.hpp:141-296, modelled
after Li et al., "The K-Core Decomposition Algorithm Under the Framework
of GraphBLAS", HPEC 2021). Two engines computing the SAME exact
coreness values:

- ``method='hindex'`` (default): start h(v) = deg(v) and repeatedly
  replace h(v) with the h-index of its neighbours' h values — the
  largest k such that ≥ k neighbours have h ≥ k. The fixpoint of this
  monotone operator is exactly the coreness (Lü, Zhou, Zhang &
  Stanley, "The H-index of a network node and its relation to degree
  and coreness", Nature Communications 7:10168, 2016). Round count is
  bounded by the graph's peel depth but is empirically tens of rounds
  on web-shaped graphs — NOT one Spark job per coreness level, which
  is what made the peel engine round-bound at scale (VERDICT r4: 121 s
  at 2.4M edges, driven by a deep level hierarchy, not data volume).
  Per round: one join of the (src-partitioned-once, persisted) edge
  table against the n-row h vector, a (dst, h)-grouped count with
  map-side partial aggregation, and a cumulative-count window over the
  already-aggregated per-vertex histograms; ONE driver action (change
  census) per round.

- ``method='peel'``: the reference's literal peel loop — per level k,
  repeatedly peel vertices with degree ≤ k and subtract the peeled
  vertices' edge counts from their still-alive neighbours (the masked
  mxv "distance" update) until the level is stable; the level at which
  a vertex peels is its coreness. One broadcast-friendly frontier join
  per round; exact work-optimality, but O(levels + stable rounds)
  Spark jobs — keep for parity and for shallow-hierarchy graphs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..containers import DST, ID, SRC
from ..loop import Loop
from ..operators.blas2 import broadcast_if_fits


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
    method: str = "hindex",
    checkpointer=None,
    checkpoint_every: int = 10,
    resume_state: DataFrame | None = None,
    resume_round: int = 0,
    frontier_min_edges: int = 20_000_000,
) -> KCoreResult:
    """Coreness per vertex over an undirected graph given as a
    symmetric edge table (both directions present, no self-loops).
    ``method``: 'hindex' (few rounds; the at-scale default) or 'peel'
    (the reference's literal level loop) — identical outputs.
    ``frontier_min_edges``: minimum symmetric edge count before the
    h-index engine's frontier mode engages (below it a full round is
    near the job floor and frontier bookkeeping costs more than it
    saves — measured in BASELINE.md r5); tests pass 0 to force it.

    The h-index engine is resumable like the Pregel runtime: the h
    vector is checkpointed with lineage + per-round metrics every
    ``checkpoint_every`` rounds; a resumed run's first round is a full
    recompute (the frontier set is not persisted — correct because a
    full round is always exact) and converges to identical coreness."""
    if method not in ("hindex", "peel"):
        raise ValueError("method must be 'hindex' or 'peel'")
    if method == "hindex":
        # hindex persists its own src-partitioned layout
        return _kcore_hindex(
            spark, sym_edges, n, max_rounds,
            checkpointer=checkpointer, checkpoint_every=checkpoint_every,
            resume_state=resume_state, resume_round=resume_round,
            frontier_min_edges=frontier_min_edges,
        )
    if checkpointer is not None or resume_state is not None:
        raise ValueError("checkpoint/resume is supported by method='hindex'")
    with Loop(spark, "kcore") as loop:
        if not sym_edges.storageLevel.useMemory:
            sym_edges, _ = loop.cache(sym_edges, resize=False)

        deg = sym_edges.groupBy(F.col(SRC).alias(ID)).agg(F.count("*").alias("deg"))
        k = 0

        def census(k: int) -> dict:
            # the next round's peel census, observed on the checkpoint
            # that produces its state
            peels = F.col("alive") & (F.col("deg") <= k)
            return dict(
                n_peel=F.sum(peels.cast("long")),
                n_alive=F.sum(F.col("alive").cast("long")),
                next_deg=F.min(F.when(F.col("alive") & ~peels, F.col("deg"))),
            )

        state, stats = loop.step(
            spark.range(n)
            .select(F.col("id").alias(ID))
            .join(deg, on=ID, how="left")
            .select(
                ID,
                F.coalesce("deg", F.lit(0)).alias("deg"),
                F.lit(0).cast("long").alias("core"),
                F.lit(True).alias("alive"),
            ),
            stage="peel",
            **census(k),
        )
        while True:
            n_alive = int(stats["n_alive"] or 0)
            n_peel = int(stats["n_peel"] or 0)
            if n_alive == 0:
                break
            if n_peel == 0:
                # level jump: no alive vertex has deg ≤ k, so the next
                # level that peels anything is exactly the minimum alive
                # degree — peel there immediately instead of burning one
                # stats job per empty level (a deep-coreness hub graph
                # has hundreds). n_peel is only the broadcast-choice
                # input below; n_alive upper-bounds it conservatively.
                k = int(stats["next_deg"])
                n_peel = n_alive
            if max_rounds and loop.round > max_rounds:
                break
            peels = F.col("alive") & (F.col("deg") <= k)

            # push a unit message along every edge out of a peeled
            # vertex. Frontier size is known (n_peel): broadcast the
            # semi-join only when it fits (the vxm strategy='auto' cost
            # rule) — the k=0/1 levels of a web graph can peel a large
            # fraction of all vertices, which must go through the shuffle
            # semi-join instead
            peel_ids = state.where(peels).select(F.col(ID).alias(SRC))
            dec = (
                sym_edges.join(
                    broadcast_if_fits(peel_ids, n_peel), on=SRC, how="left_semi"
                )
                .groupBy(F.col(DST).alias(ID))
                .agg(F.count("*").alias("_dec"))
            )
            nxt = state.join(dec, on=ID, how="left").select(
                ID,
                F.when(peels, F.col("deg"))
                .otherwise(F.col("deg") - F.coalesce("_dec", F.lit(0)))
                .alias("deg"),
                F.when(peels, F.lit(k).cast("long")).otherwise(F.col("core")).alias("core"),
                (F.col("alive") & ~peels).alias("alive"),
            )
            state, stats = loop.step(nxt, stage="peel", replaces=state, **census(k))

        loop.finish(state)
    return KCoreResult(
        cores=state.select(ID, "core"), max_k=k, rounds=loop.round,
        history=loop.history,
    )


def _kcore_hindex(
    spark: SparkSession,
    sym_edges: DataFrame,
    n: int,
    max_rounds: int,
    checkpointer=None,
    checkpoint_every: int = 10,
    resume_state: DataFrame | None = None,
    resume_round: int = 0,
    frontier_min_edges: int = 20_000_000,
) -> KCoreResult:
    """Iterated h-index to the fixpoint (module docstring; Lü et al.
    2016). h is monotonically non-increasing per vertex, so the change
    census doubles as the convergence test; the ``least(h, hnew)``
    clamp makes monotonicity structural rather than trusted.

    Scale shape: the edge table is hash-partitioned by src ONCE and
    persisted — the per-round join re-uses that layout (zero edge
    Exchange in steady state, the pagerank5 trick); the (dst, h) count
    partially aggregates map-side before its shuffle; the h-index
    cumulative window runs over per-vertex degree histograms (≤
    #distinct neighbour h values per vertex — hub-safe, no
    collect_list); each round is ONE :meth:`alp_spark.loop.Loop.step`
    action with the change census observed on the checkpoint."""
    from pyspark.sql import Window

    from ..plans.partitions import range_partitions

    start = resume_round if resume_state is not None else 0
    with Loop(spark, "kcore", checkpointer, checkpoint_every, start=start) as loop:
        # size-derived cached layout (guide §2; conf-capped — identical
        # at scale); the count doubles as the frontier-mode gate input
        sym_edges, m_sym = loop.cache(sym_edges, key=SRC)

        if resume_state is not None:
            h = resume_state.select(ID, "h")
        else:
            deg = sym_edges.groupBy(F.col(SRC).alias(ID)).agg(
                F.count("*").alias("h")
            )
            h = (
                spark.range(0, n, 1, range_partitions(spark, n))
                .select(F.col("id").alias(ID))
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
        frontier_enabled = m_sym >= frontier_min_edges
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
