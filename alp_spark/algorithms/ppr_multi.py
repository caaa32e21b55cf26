"""Batched multi-source personalized PageRank.

Link-prediction and related-pages features need PPR from MANY seeds;
running the single-vector loop (simple_pagerank with ``teleport``)
once per seed costs S separate iteration loops. This runs all S seeds
in ONE loop over a (seed, id, val) keyed state — per round:

    dangling_s = Σ val over out-degree-free vertices, per seed
    contrib    = vxm of each seed's slice under (plus, times), batched
                 as one join + one groupBy(seed, dst)
    val'       = contrib + (α·dangling_s + 1−α)·[id = seed]

identical arithmetic to ``simple_pagerank(teleport=point mass)``
(simple_pagerank.hpp:286-451 semantics with the seed distribution),
so each seed's slice equals the single-source run bit for bit.

Scale shape: the edge table shuffles ONCE (dst-partitioned, persisted);
per round there is one join + one map-side-combined aggregation over
S·nnz contribution rows, and the per-seed dangling masses ride in-plan
as a broadcast S-row frame (the HITS norm trick), so each round is one
eager :meth:`alp_spark.loop.Loop.step` with no driver ``collect``; it
releases the round before it. Rank state is S·n rows; batch S to executor memory
(S ≈ 10-100 at 10^9 vertices) and loop batches for more seeds.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import algebra as alg
from ..containers import DST, ID, SRC, VAL, set_dense
from ..loop import Loop
from ..operators.blas2 import broadcast_if_fits, vxm
from ..plans.partitions import vertex_ids


@dataclass
class PPRMultiResult:
    ranks: DataFrame  # (seed, id, val) — dense per seed
    rounds: int
    history: list[dict]  # one {round, wall_s} per round


def ppr_multi(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    seeds: Sequence[int],
    alpha: float = 0.85,
    rounds: int = 3,
) -> PPRMultiResult:
    """Pinned-round point-mass PPR for every seed in ``seeds`` at once."""
    if not seeds:
        raise ValueError("seeds must be non-empty")
    if not 0 < alpha < 1 or rounds < 1:
        raise ValueError("alpha must be in (0,1), rounds >= 1")

    is_seed = F.when(F.col(ID) == F.col("seed"), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    with Loop(spark, "ppr_multi") as loop:
        # size-derived cached layout (guide §2; conf-capped — identical
        # at scale); the row-sum prelude broadcasts the dense ones vector
        E, _ = loop.cache(edges.select(SRC, DST), key=DST)
        ones = set_dense(spark, n, 1.0)
        inv, _ = loop.cache(
            vxm(ones, E, alg.PLUS_FIRST, transpose=True, frontier_nnz=n)
            .select(ID, (F.lit(alpha) / F.col(VAL)).alias("_inv")),
            resize=False,
        )
        seed_ids = F.array(*(F.lit(int(s)).cast("long") for s in seeds))
        # layout: the seed ids as JVM literals in one partition (no
        # Python-worker stage reads them), not a per-vertex state vector
        seeds_df = spark.range(0, 1, 1, 1).select(F.explode(seed_ids).alias("seed"))
        base, _ = loop.cache(
            seeds_df.crossJoin(vertex_ids(spark, n)),
            resize=False,
        )

        state = base.select("seed", ID, is_seed.alias(VAL))
        for _ in range(rounds):
            # per-seed dangling mass — an S-row frame, broadcast in-plan
            dang = (
                state.join(inv.select(ID), on=ID, how="left_anti")
                .groupBy("seed")
                .agg(F.sum(VAL).alias("_dm"))
            )
            scaled = state.join(inv, on=ID).select(
                "seed",
                F.col(ID).alias(SRC),
                (F.col(VAL) * F.col("_inv")).alias("_x"),
            )
            contrib = (
                broadcast_if_fits(scaled, len(seeds) * n)
                .join(E, on=SRC)
                .groupBy("seed", DST)
                .agg(F.sum("_x").alias("_c"))
                .select("seed", F.col(DST).alias(ID), "_c")
            )
            state, _ = loop.step(
                base.join(contrib, on=["seed", ID], how="left")
                .join(broadcast_if_fits(dang, len(seeds)), on="seed", how="left")
                .select(
                    "seed",
                    ID,
                    (
                        F.coalesce("_c", F.lit(0.0))
                        + (
                            F.lit(alpha) * F.coalesce("_dm", F.lit(0.0))
                            + F.lit(1.0 - alpha)
                        )
                        * is_seed
                    ).alias(VAL),
                ),
                replaces=state,
            )
        loop.finish(state)
    return PPRMultiResult(ranks=state, rounds=rounds, history=loop.history)
