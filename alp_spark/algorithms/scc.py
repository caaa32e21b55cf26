"""Strongly connected components via min-label coloring + backward
reach (the FW-BW / coloring family: Orzan 2004; Slota, Rajamanickam,
Madduri IPDPS 2014 — public algorithms).

Per outer round, on the still-unassigned subgraph:

1. **Color** (forward min flood): ``f(v)`` = the minimum vertex id
   that reaches v (including v), computed by iterating
   ``f(v) ← min(f(v), min over in-edges (u,v) of f(u))`` to fixpoint —
   the directed analog of the Pregel CC flood (min-label semiring,
   pregel_connected_components.hpp:47-169 vocabulary).
2. **Harvest** (backward flood inside one color): from each color root
   r (``f(r) = r``), walk edges BACKWARD restricted to vertices of the
   same color. Every vertex that reaches its own color root r is
   mutually reachable with r (r reaches it by the color's definition),
   so it belongs to SCC(r); and every member of SCC(r) has color r
   (no smaller vertex reaches it, else its color would be smaller).
   Assign ``scc = f(v)`` to harvested vertices — the SCC's MINIMUM
   vertex id, the FastSV label convention.
3. Remove assigned vertices and their edges; repeat.

Every color class surrenders one whole SCC per outer round (the SCC of
its minimum vertex), so rounds are bounded by the longest chain in the
condensation DAG that is exposed one-SCC-at-a-time; hub-dense web
graphs (one giant SCC + shallow IN/OUT tendrils) finish in a handful
of outer rounds. The adversarial case — a long path of singleton SCCs
ordered against the labels — degrades to O(path) rounds; the classic
mitigation (trim: iteratively assign vertices whose in- or out-degree
inside the active set is zero, each a singleton SCC) runs first each
outer round and absorbs exactly those chains.

Scale shape: per inner round one join + one map-side-combined min
aggregation (the FastSV currency), one :meth:`alp_spark.loop.Loop.step`
(one action, census included); the active edge set is re-filtered (two
semi-joins) and swapped in after every trim and harvest.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..containers import DST, ID, SRC
from ..loop import Loop, _release
from ..plans.partitions import vertex_ids


@dataclass
class SCCResult:
    labels: DataFrame  # (id, scc) — scc = min vertex id of the component
    outer_rounds: int
    inner_rounds: int
    history: list[dict] = field(default_factory=list)  # one per inner round


def _min_flood(
    active: DataFrame, E: DataFrame, forward: bool, loop: Loop
) -> tuple[DataFrame, int]:
    """Min-label flood over the active vertex set: returns ((id, _f, …),
    rounds) with _f = min id that reaches v (forward=True) or that v
    reaches (forward=False). ``active`` is (id,); E is already
    restricted. Each round is one step of ``loop``."""
    start = loop.round
    a, b = (SRC, DST) if forward else (DST, SRC)
    f, _ = loop.checkpoint(active.select(ID, F.col(ID).alias("_f")), stage="color")
    while True:
        pushed = (
            E.join(f.select(F.col(ID).alias(a), F.col("_f").alias("_in")), on=a)
            .groupBy(b)
            .agg(F.min("_in").alias("_m"))
            .select(F.col(b).alias(ID), "_m")
        )
        # shortcutting (VERDICT r5): pointer-double on the label vector —
        # f[f[v]] is a valid "reaches v" label (u = f[v] reaches v and
        # f[u] reaches u), so folding it into the min compresses long
        # propagation chains from O(diameter) to O(log) rounds while
        # leaving the fixpoint (the true reachability minimum) unchanged.
        # The parent side is unique-keyed — the FastSV lookup shape.
        gp = f.join(
            f.select(F.col(ID).alias("_p"), F.col("_f").alias("_gf")),
            on=F.col("_f") == F.col("_p"),
        ).select(ID, F.col("_gf").alias("_g"))
        nxt = (
            f.join(pushed, on=ID, how="left")
            .join(gp, on=ID, how="left")
            .select(
                ID,
                F.least(
                    F.col("_f"),
                    F.coalesce("_m", F.col("_f")),
                    F.coalesce("_g", F.col("_f")),
                ).alias("_f"),
                (
                    (F.coalesce("_m", F.col("_f")) < F.col("_f"))
                    | (F.coalesce("_g", F.col("_f")) < F.col("_f"))
                ).alias("_chg"),
            )
        )
        f, stats = loop.step(
            nxt, stage="color", replaces=f,
            changed=F.sum(F.col("_chg").cast("long")),
        )
        if not stats["changed"]:
            return f, loop.round - start


def reach_set(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    forward: bool = True,
) -> DataFrame:
    """Fixpoint reachability from a seed set (frontier BFS): returns
    (id,) of every vertex reachable FROM the seeds along edge direction
    (``forward=True``) or that REACHES the seeds (``forward=False``),
    seeds included. One loop step per BFS level; each level expands
    only the new frontier (classic delta optimisation — the SSSP
    delta-frontier argument with the boolean (or, and) ring)."""
    a, b = (SRC, DST) if forward else (DST, SRC)
    with Loop(spark, "reach_set") as loop:
        E, _ = loop.cache(edges.select(SRC, DST), key=a)
        r, _ = loop.checkpoint(seeds.select(ID).distinct())
        frontier = None  # the last level; None = the seeds themselves
        while True:
            src = r if frontier is None else frontier
            level, stats = loop.step(
                E.join(src.select(F.col(ID).alias(a)), on=a)
                .select(F.col(b).alias(ID))
                .distinct()
                .join(r, on=ID, how="left_anti"),
                replaces=frontier,
                grew=F.count(F.lit(1)),
            )
            if not stats["grew"]:
                break
            r, _ = loop.checkpoint(r.unionByName(level), stage="union", replaces=r)
            frontier = level
        loop.finish(r)
    return r


def bowtie_classes(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
) -> DataFrame:
    """Broder et al. (WWW 2000) bow-tie decomposition: label every
    vertex ``core`` (the largest SCC; ties broken by smallest label),
    ``in`` (reaches the core), ``out`` (reachable from the core), or
    ``other`` (tendrils, tubes, disconnected). Returns (id, cls)."""
    labels = strongly_connected_components(spark, edges, n).labels
    with Loop(spark, "bowtie") as loop:
        core_lbl = (
            labels.groupBy("scc")
            .agg(F.count("*").alias("_sz"))
            .orderBy(F.col("_sz").desc(), F.col("scc").asc())
            .limit(1)
            .select("scc")
        )
        core, _ = loop.checkpoint(
            labels.join(F.broadcast(core_lbl), on="scc", how="left_semi").select(ID),  # bound: one row
            stage="core",
        )
        fwd = reach_set(spark, edges, core, forward=True)
        bwd = reach_set(spark, edges, core, forward=False)
        classes, _ = loop.checkpoint(
            vertex_ids(spark, n)
            .join(core.select(ID, F.lit(True).alias("_c")), on=ID, how="left")
            .join(bwd.select(ID, F.lit(True).alias("_in")), on=ID, how="left")
            .join(fwd.select(ID, F.lit(True).alias("_out")), on=ID, how="left")
            .select(
                ID,
                F.when(F.col("_c"), F.lit("core"))
                .when(F.col("_in"), F.lit("in"))
                .when(F.col("_out"), F.lit("out"))
                .otherwise(F.lit("other"))
                .alias("cls"),
            ),
            stage="classes",
        )
        loop.finish(classes)
    # the other operators' results, read only by ``classes``
    for df in (labels, fwd, bwd):
        _release(df)
    return classes


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    max_outer: int = 0,
) -> SCCResult:
    """Exact SCC labels for vertices 0..n-1 over the directed edge
    table (no self-loops required; parallel edges tolerated). Labels
    are the component's minimum vertex id. Isolated vertices and all
    other singleton SCCs get their own id."""

    def without(E: DataFrame, gone: DataFrame) -> DataFrame:
        return E.join(
            gone.select(F.col(ID).alias(SRC)), on=SRC, how="left_anti"
        ).join(gone.select(F.col(ID).alias(DST)), on=DST, how="left_anti")

    count = F.count(F.lit(1))
    parts: list[DataFrame] = []  # (id, scc) per assigned batch
    with Loop(spark, "scc") as loop:
        Eact, _ = loop.cache(edges.select(SRC, DST), key=DST)
        active, stats = loop.checkpoint(
            vertex_ids(spark, n), stage="active", n=count
        )

        outer = 0
        while stats["n"] and not (max_outer and outer >= max_outer):
            outer += 1

            # trim: peel vertices with zero in- or out-degree inside the
            # active set — each is a singleton SCC; repeat to absorb chains
            while True:
                srcs = Eact.select(F.col(SRC).alias(ID)).distinct()
                dsts = Eact.select(F.col(DST).alias(ID)).distinct()
                trivial, tstats = loop.step(
                    active.join(srcs, on=ID, how="left_anti")
                    .unionByName(active.join(dsts, on=ID, how="left_anti"))
                    .distinct(),
                    stage="trim",
                    trivial=count,
                )
                if not tstats["trivial"]:
                    loop.release(trivial)
                    break
                parts.append(trivial.select(ID, F.col(ID).alias("scc")))
                active, stats = loop.checkpoint(
                    active.join(trivial, on=ID, how="left_anti"),
                    stage="active", replaces=active, n=count,
                )
                Eact = loop.swap(Eact, without(Eact, trivial))
            if not stats["n"]:
                continue

            # color: forward min flood
            f, _ = _min_flood(active, Eact, forward=True, loop=loop)

            # harvest: backward reach from each color root within the color
            reached, _ = loop.checkpoint(
                f.where(F.col(ID) == F.col("_f")).select(ID, "_f"), stage="reached"
            )
            level = None
            while True:
                # v active joins if some out-edge (v,u) lands in `reached`
                # with matching color
                nxt = (
                    Eact.join(
                        reached.select(F.col(ID).alias(DST), F.col("_f").alias("_rf")),
                        on=DST,
                    )
                    .join(
                        f.select(F.col(ID).alias(SRC), F.col("_f").alias("_vf")),
                        on=SRC,
                    )
                    .where(F.col("_rf") == F.col("_vf"))
                    .select(F.col(SRC).alias(ID), F.col("_vf").alias("_f"))
                    .distinct()
                    .join(reached.select(ID), on=ID, how="left_anti")
                )
                level, hstats = loop.step(
                    nxt, stage="harvest", replaces=level, grew=count
                )
                if not hstats["grew"]:
                    break
                reached, _ = loop.checkpoint(
                    reached.unionByName(level), stage="reached", replaces=reached
                )
            loop.release(f, level)

            parts.append(reached.select(ID, F.col("_f").alias("scc")))
            active, stats = loop.checkpoint(
                active.join(reached.select(ID), on=ID, how="left_anti"),
                stage="active", replaces=active, n=count,
            )
            Eact = loop.swap(Eact, without(Eact, reached))

        # one frame for the result: the assigned batches are released
        # with the loop
        union = (
            parts[0]
            if parts
            else vertex_ids(spark, 0).select(ID, F.col(ID).alias("scc"))
        )
        for p in parts[1:]:
            union = union.unionByName(p)
        labels, _ = loop.checkpoint(union, stage="labels")
        loop.finish(labels)
    return SCCResult(
        labels=labels, outer_rounds=outer, inner_rounds=loop.round,
        history=loop.history,
    )
