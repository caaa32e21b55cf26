"""Approximate neighbourhood function via Flajolet-Martin bit-OR
propagation (ANF: Palmer, Gibbons, Faloutsos, KDD 2002 — the
HyperBall/HADI family's ancestor).

Each vertex starts with a one-bit FM sketch — bit ρ(h(v)) set, where
ρ is the position of the lowest set bit of a fixed multiplicative hash
(geometrically distributed) — and K rounds of

    S_{k+1}(v) = S_k(v)  |  OR over out-edges (v,u) of S_k(u)

leave S_K(v) sketching |ball_out(v, K)|: the OR of FM sketches of a set
IS the FM sketch of the set, so after k rounds each vertex holds the
sketch of everything within k hops. The estimate is the classic
2^(lowest zero bit) / 0.77351.

This is the (bit_or, left_assign) semiring over the pattern matrix —
mxv under a user monoid, exactly the reference's generalised-ring vxm
vocabulary (base/blas2.hpp:307) with ⊕ = bitwise OR — and the "novel
sketch" operator class the engine exposes for web-scale radius/
diameter estimation where exact k-hop sets are quadratically large.

Scale shape: identical to the PageRank/FastSV loop — the edge table is
hash-partitioned by dst once and persisted, each round is one join +
one map-side-combined bit_or aggregation (8 bytes/vertex of state, the
cheapest state vector in the engine), and rounds are FIXED at K (no
convergence test). Each round is one eager :meth:`alp_spark.loop.Loop.step`
that releases the round before it.

Determinism: the hash is a pure function of the vertex id, bit-OR is
commutative/associative/idempotent — results are exact-identical
across partitionings and cluster sizes, and the DuckDB oracle unrolls
the same arithmetic.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..containers import DST, ID, SRC
from ..loop import Loop
from ..operators.blas2 import broadcast_if_fits
from ..plans.partitions import vertex_ids
from .mis import PRIO_MOD, hash32

#: golden-ratio salt so h(0) ≠ 0 for almost all ids (h == 0 is still
#: guarded: it maps to the 2^32 "impossibly rare" bit).
HASH_SALT = 2654435769

#: Flajolet-Martin bias correction.
FM_PHI = 0.77351


def fm_init_col(id_col: Column) -> Column:
    """One-bit FM sketch of a vertex id: ``h & -h`` (the lowest set
    bit's VALUE, i.e. 2^ρ(h)) of the salted multiplicative hash."""
    h = hash32(id_col, HASH_SALT)
    return F.when(h == 0, F.lit(PRIO_MOD)).otherwise(
        h.bitwiseAND(-h)
    )


def fm_lowzero_col(sketch: Column) -> Column:
    """Value of the sketch's lowest ZERO bit (2^R) — an exact BIGINT."""
    return F.bitwise_not(sketch).bitwiseAND(sketch + F.lit(1))


def fm_estimate_col(sketch: Column) -> Column:
    """FM cardinality estimate: value of the lowest ZERO bit / φ."""
    return fm_lowzero_col(sketch).cast("double") / F.lit(FM_PHI)


def _fm_init(spark: SparkSession, n: int) -> DataFrame:
    """(id, _s): every vertex's one-bit FM sketch."""
    return vertex_ids(spark, n).select(ID, fm_init_col(F.col(ID)).alias("_s"))


def _fm_round(s: DataFrame, E: DataFrame, n: int) -> DataFrame:
    """One bit-OR round: S(v) | OR over out-edges (v,u) of S(u). The
    n-row sketch side goes through the one broadcast gate."""
    pull_side = s.select(F.col(ID).alias(DST), F.col("_s").alias("_x"))
    pulled = (
        E.join(broadcast_if_fits(pull_side, n), on=DST)
        .groupBy(SRC)
        .agg(F.bit_or("_x").alias("_o"))
        .select(F.col(SRC).alias(ID), "_o")
    )
    return s.join(pulled, on=ID, how="left").select(
        ID, F.col("_s").bitwiseOR(F.coalesce("_o", F.lit(0))).alias("_s")
    )


@dataclass
class ANFResult:
    sketches: DataFrame  # (id, sketch, est_reach)
    rounds: int
    history: list[dict]  # one {round, wall_s} per round


def neighborhood_function(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    rounds: int = 4,
) -> DataFrame:
    """The ANF proper: N(h) = estimated number of (source, reachable)
    pairs within h hops, for h = 1..rounds — the curve whose 90%
    saturation point is the web graph's EFFECTIVE DIAMETER (Palmer et
    al. KDD 2002 §4; the Kronecker/graph-500 evaluation statistic).

    One propagation pass: each bit-OR round is a step whose census is
    the integer sum of the per-vertex FM values; the (hop, n_pairs)
    result is built from those driver-side sums and reads no
    checkpoint."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    with Loop(spark, "neighborhood_function") as loop:
        # size-derived cached layout (guide §2; conf-capped, so identical
        # at scale) — one E scan per hop.
        E, _ = loop.cache(edges.select(SRC, DST), key=DST)
        s = _fm_init(spark, n)
        # sum the EXACT integer 2^R values and divide by φ once: a float
        # sum is partition-order-sensitive at round(6) precision, an
        # integer sum is bit-identical in any order and any engine
        hops = []
        for h in range(1, rounds + 1):
            s, stats = loop.step(
                _fm_round(s, E, n), replaces=s,
                z=F.sum(fm_lowzero_col(F.col("_s"))),
            )
            hops.append((h, stats["z"]))
    return spark.createDataFrame(hops, "hop long, _z long").select(
        "hop", F.round(F.col("_z").cast("double") / F.lit(FM_PHI), 6).alias("n_pairs")
    )


def anf(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    rounds: int = 3,
) -> ANFResult:
    """K-round out-ball FM sketches for vertices 0..n-1 over the
    directed edge table. ``est_reach`` includes the vertex itself."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    with Loop(spark, "anf") as loop:
        # same size-derived layout as neighborhood_function above
        E, _ = loop.cache(edges.select(SRC, DST), key=DST)
        s = _fm_init(spark, n)
        for _ in range(rounds):
            s, _ = loop.step(_fm_round(s, E, n), replaces=s)
        loop.finish(s)
    out = s.select(
        ID,
        F.col("_s").alias("sketch"),
        F.round(fm_estimate_col(F.col("_s")), 6).alias("est_reach"),
    )
    return ANFResult(sketches=out, rounds=rounds, history=loop.history)
