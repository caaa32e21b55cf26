"""Deterministic random-walk corpus generation (DeepWalk-style
training pairs, Perozzi et al. 2014 — public).

Generates one walk per start vertex over the directed edge table. The
next-step choice is a pure hash of (start, step): neighbours of the
current vertex are ranked by dst id (row_number over the per-src
window), and step t picks index ``H(start, t) % out_degree(cur)``.
Determinism is the point: the walk corpus is reproducible across
partitionings, resumes, and cluster sizes — the same property the
sampling/split pipeline guarantees (pipeline/sampling.py) — and the
DuckDB oracle replays the identical arithmetic.

Walks stop early at sinks (vertices with no out-edges): the emitted
frame simply has no rows for later steps of that walk.

Scale shape: the neighbour ranking is one per-src window (distributed,
no global sort); each step is two joins against the ranked neighbour
table — hash-partitioned by src once and persisted, so steady-state
steps reshuffle only the walk-state frame, which is O(#walks). Hot
(high in-degree) vertices concentrate walk state onto few cur keys;
the join against the UNIQUE-keyed (src, idx) side is the AQE
skew-split-friendly lookup shape, same as the FastSV grandparent join.

Hash note: the walk index ``(start * PRIO_MULT + t * STEP_SALT + seed)
mod 2^32`` is :func:`~alp_spark.algorithms.mis.hash32`, which cannot
overflow for any BIGINT start id (the oracle uses the same arithmetic).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..algorithms.mis import hash32
from ..containers import DST, SRC
from ..plans.partitions import cache_sized, vertex_ids

#: per-step salt (odd, coprime with the modulus).
STEP_SALT = 40503


@dataclass
class WalkResult:
    walks: DataFrame  # (start, step, vertex)
    length: int


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    length: int = 4,
    seed: int = 0,
    starts: DataFrame | None = None,
) -> WalkResult:
    """Deterministic walks of ``length`` steps from each start vertex
    (default: all of 0..n-1; pass ``starts`` with one ``id`` column to
    walk from a sample). Returns (start, step, vertex) rows with step
    0 = the start itself."""
    if length < 0:
        raise ValueError("length must be >= 0")
    w = Window.partitionBy(SRC).orderBy(DST)
    # the window exec hash-partitions by src into the conf-sized count;
    # cache_sized(key=SRC) then adds a second repartition(SRC) exchange
    # to reach the size-derived, conf-capped layout (guide §2). Sizing
    # the edges before the window would drop that exchange.
    nbr, _ = cache_sized(
        spark,
        edges.select(SRC, DST).select(
            SRC, DST, (F.row_number().over(w) - 1).alias("_i")
        ),
        key=SRC,
    )
    deg = nbr.groupBy(SRC).agg(F.count("*").alias("_d")).persist()

    if starts is None:
        starts = vertex_ids(spark, n)
    state = starts.select(
        F.col("id").alias("start"), F.col("id").alias("cur")
    )
    frames = [
        state.select(
            "start",
            F.lit(0).cast("long").alias("step"),
            F.col("cur").alias("vertex"),
        )
    ]
    for t in range(1, length + 1):
        idx = hash32(F.col("start"), t * STEP_SALT + seed)
        # pick the neighbour index FIRST, then equi-join on (cur, idx):
        # the hash join probes one ranked row per walk instead of
        # exploding deg(cur) rows and filtering
        state = (
            state.join(deg.select(F.col(SRC).alias("cur"), "_d"), on="cur")
            .select("start", "cur", (idx % F.col("_d")).alias("_i"))
            .join(
                nbr.select(
                    F.col(SRC).alias("cur"),
                    F.col("_i"),
                    F.col(DST).alias("_nxt"),
                ),
                on=["cur", "_i"],
            )
            .select("start", F.col("_nxt").alias("cur"))
        )
        frames.append(
            state.select(
                "start",
                F.lit(t).cast("long").alias("step"),
                F.col("cur").alias("vertex"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    # NOTE: the union branches re-derive the step-t state lazily, and
    # actions over `out` (count, column-pruned scans) exploit that —
    # measured: inserting per-step local checkpoints + a final eager one
    # costs ~25% wall (interleaved A/B, sf0.1) because the checkpoint
    # materialises full rows the action may never need. nbr/deg stay
    # cached while `out` is alive for the same reason.
    return WalkResult(walks=out, length=length)
