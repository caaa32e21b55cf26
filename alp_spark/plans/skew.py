"""Explicit salting for hub-vertex skew (north rule; SURVEY.md §4 #12).

A web link graph is power-law: a few hub vertices carry in/out-degrees
millions of times the median. Two skew points in the vxm plan
(``edges ⋈_src v → groupBy(dst)``):

1. **Join skew on ``src``** — every out-edge row of a hub src lands in
   one hash partition of the shuffle join. Fix: replicate the (tiny)
   vector row of each *hot* src ``n_salts`` times and give each edge row
   a deterministic salt, joining on ``(src, salt)`` so a hub's edges
   spread over ``n_salts`` partitions. Cold keys keep salt 0 — no
   replication blow-up. (AQE skew-join is the runtime backstop; this is
   the explicit, plan-time version that also works for the first, un-
   observed execution.)
2. **Aggregation skew on ``dst``** — absorbed by map-side partial
   aggregation for commutative monoids (Spark's partial+final agg is the
   analog of ALP's thread-local ``asyncAssign``/``joinUpdate`` merges,
   reference/blas2.hpp:1259-1265); for extra-hot dsts
   :func:`salted_vxm` adds a two-level ``(dst, salt) → dst`` agg, exact
   for any commutative-associative ⊕.

Hot keys are detected once per graph by degree (``hot_keys``) — the
analog of ALP precomputing degrees in the Pregel constructor
(interfaces/pregel.hpp:380-416) — and broadcast through the one gate
(:func:`~alp_spark.operators.blas2.broadcast_if_fits`) when the caller
knows their size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..algebra import Semiring
from ..containers import DST, ID, SRC, VAL
from ..operators.blas2 import broadcast_if_fits

#: degree above which a vertex counts as a hub (tune per graph; at web
#: scale ~32 partitions' worth of a balanced share is a good default)
DEFAULT_HOT_DEGREE = 100_000


def hot_keys(
    edges: DataFrame, key: str, threshold: int = DEFAULT_HOT_DEGREE
) -> DataFrame:
    """Vertices whose ``key``-degree exceeds ``threshold`` — one count
    aggregation, run once per graph and reused across supersteps."""
    return (
        edges.groupBy(F.col(key).alias(ID))
        .agg(F.count("*").alias("_deg"))
        .where(F.col("_deg") > threshold)
        .select(ID)
    )


def salted_vxm(
    v: DataFrame,
    edges: DataFrame,
    semiring: Semiring,
    hot_src: DataFrame | None = None,
    hot_dst: DataFrame | None = None,
    n_salts: int = 16,
    transpose: bool = False,
    hot_nnz: int | None = None,
) -> DataFrame:
    """u[j] = ⊕_i v[i] ⊗ A[i,j] with explicit two-sided salting.

    Exact for any commutative-associative ⊕ (two-level aggregation is a
    reassociation, which the monoid laws license — the same argument that
    makes Spark's partial aggregation correct).

    ``hot_src`` / ``hot_dst``: (id) DataFrames of hub vertices (from
    :func:`hot_keys`). ``None`` disables that side's salting.
    ``hot_nnz``: driver-known bound on each hot set's rows (at most
    |E|/threshold, and at most the vertex count); the broadcast gate
    hints them at or below its threshold, and AQE decides when ``None``.
    """
    join_key, group_key = (DST, SRC) if transpose else (SRC, DST)

    a_val = F.col(VAL) if VAL in edges.columns else F.lit(semiring.one)

    # deterministic per-row salt: spreads a hub's edges evenly without
    # RNG (plan stays reproducible / resumable)
    edge_salt = F.pmod(F.xxhash64(F.col(SRC), F.col(DST)), F.lit(n_salts))

    vv = v.select(F.col(ID).alias(join_key), F.col(VAL).alias("_v"))

    if hot_src is not None:
        hot = broadcast_if_fits(hot_src.select(F.col(ID).alias(join_key)), hot_nnz)
        # replicate hot vector rows across all salts; cold rows keep salt 0
        vv = (
            vv.join(hot.withColumn("_hot", F.lit(True)), on=join_key, how="left")
            .withColumn(
                "_salts",
                F.when(F.col("_hot"), F.sequence(F.lit(0), F.lit(n_salts - 1)))
                .otherwise(F.array(F.lit(0))),
            )
            .select(join_key, "_v", F.explode("_salts").alias("_salt"))
        )
        # cold srcs must join salt 0: map their edge salt to 0 via the hot set
        e = edges.withColumn("_salt", edge_salt)
        e = e.join(hot.withColumn("_hot", F.lit(True)), on=join_key, how="left")
        e = e.withColumn(
            "_salt", F.when(F.col("_hot"), F.col("_salt")).otherwise(F.lit(0))
        ).drop("_hot")
        joined = e.join(vv, on=[join_key, "_salt"], how="inner")
    else:
        joined = edges.join(vv, on=join_key, how="inner")

    contrib = semiring.mul(F.col("_v"), a_val)

    if hot_dst is not None:
        hotd = broadcast_if_fits(hot_dst.select(F.col(ID).alias(group_key)), hot_nnz)
        dst_salt = F.pmod(F.xxhash64(F.col(SRC), F.col(DST)), F.lit(n_salts))
        with_salt = joined.join(
            hotd.withColumn("_dhot", F.lit(True)), on=group_key, how="left"
        ).withColumn(
            "_dsalt", F.when(F.col("_dhot"), dst_salt).otherwise(F.lit(0))
        )
        partial = with_salt.groupBy(group_key, "_dsalt").agg(
            semiring.add.agg(contrib).alias(VAL)
        )
        u = partial.groupBy(F.col(group_key).alias(ID)).agg(
            semiring.add.agg(F.col(VAL)).alias(VAL)
        )
    else:
        u = joined.groupBy(F.col(group_key).alias(ID)).agg(
            semiring.add.agg(contrib).alias(VAL)
        )
    return u
