"""Maximal independent set via deterministic-priority Luby rounds.

The classic distributed symmetry-breaking primitive (Luby 1986, "A
Simple Parallel Algorithm for the Maximal Independent Set Problem"), in
the GraphBLAS formulation the reference's vocabulary expresses
directly (the GraphBLAS C API spec ships MIS as its Algorithm 1
example): per round, an undecided vertex joins the MIS iff its priority
beats the minimum priority over its undecided neighbours — an mxv under
the (min, second) ring (base/blas2.hpp:1188 semantics) followed by an
eWiseApply less-than mask — then winners and their neighbourhoods leave
the undecided set (two masked assigns).

Priorities here are a fixed multiplicative hash of the vertex id
(Knuth's 2654435761, odd ⇒ bijective mod 2^32 ⇒ all priorities
DISTINCT), so the run is fully deterministic and SQL-unrollable while
keeping Luby's O(log n) expected round count on hashed (effectively
random) orderings. Strict ``<`` needs no tie-break: two adjacent
vertices can never both win a round (the loser sees the winner's
smaller priority in its neighbourhood minimum).

Scale shape: the symmetric edge table is hash-partitioned by dst once
and persisted (the FastSV layout); each round shuffles only the
undecided frontier — whose size HALVES in expectation every round (half
the EDGES die per Luby round) — and each round is one
:meth:`alp_spark.loop.Loop.step` (one action, undecided census included).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..containers import DST, ID, SRC
from ..loop import Loop
from ..operators.blas2 import broadcast_if_fits
from ..plans.partitions import vertex_ids

#: Knuth multiplicative hash constant; odd → bijective mod 2^32.
PRIO_MULT = 2654435761
PRIO_MOD = 2**32

#: state-vector codes
UNDECIDED, IN_MIS, OUT = 0, 1, 2


def hash32(id_col: Column, salt: int = 0) -> Column:
    """``(id·PRIO_MULT + salt) mod 2^32`` for ids ≥ 0 in BIGINT math that
    cannot overflow under ANSI for any id: only the id's low 32 bits
    matter mod 2^32, and they are multiplied as two 16-bit halves, so
    every partial product stays below 2^49."""
    lo = id_col.bitwiseAND(F.lit(PRIO_MOD - 1))
    hi16, lo16 = F.shiftright(lo, 16), lo.bitwiseAND(F.lit(0xFFFF))
    m = F.lit(PRIO_MULT)
    prod = (hi16 * m) % F.lit(2**16) * F.lit(2**16) + lo16 * m
    return (prod + F.lit(salt)) % F.lit(PRIO_MOD)


def priority_col(id_col: Column) -> Column:
    """Deterministic distinct priority of a vertex id."""
    return hash32(id_col)


@dataclass
class MISResult:
    members: DataFrame  # (id,) — the maximal independent set
    rounds: int
    history: list[dict] = field(default_factory=list)


def maximal_independent_set(
    spark: SparkSession,
    sym_edges: DataFrame,
    n: int,
    max_rounds: int = 0,
) -> MISResult:
    """Exact MIS of the undirected graph given as a symmetric edge
    table (both directions present, no self-loops) over vertices
    0..n-1. Vertices with no neighbours enter the set in round 1.

    The result is the unique greedy MIS under the priority order —
    independent (no edge inside), maximal (every outside vertex has a
    member neighbour), and identical across partitionings/cluster
    sizes because priorities are a pure function of the id."""
    with Loop(spark, "mis") as loop:
        # size-derived layout (guide §2): the loop re-scans E and st
        # every round, so empty-task overhead compounds per round;
        # partition counts follow the measured row counts, capped at the
        # conf value (identical layout to before at scale).
        E, _ = loop.cache(sym_edges.select(SRC, DST), key=DST)

        st, _ = loop.checkpoint(
            vertex_ids(spark, n).select(
                ID,
                priority_col(F.col(ID)).alias("_p"),
                F.lit(UNDECIDED).alias("_st"),
            )
        )

        # the driver-known state size n gates STATIC broadcast plans for
        # the per-round joins against the ≤ n-row state slices (no AQE
        # both-sides materialization barrier — the hits5 measurement)
        def hint(side: DataFrame) -> DataFrame:
            return broadcast_if_fits(side, n)

        while True:
            und = st.where(F.col("_st") == UNDECIDED)
            # min undecided-neighbour priority per undecided vertex:
            # (min, second) mxv masked to the undecided set on both sides
            mn = (
                E.join(
                    hint(und.select(F.col(ID).alias(DST), F.col("_p").alias("_np"))),
                    on=DST,
                )
                .join(hint(und.select(F.col(ID).alias(SRC))), on=SRC, how="left_semi")
                .groupBy(SRC)
                .agg(F.min("_np").alias("_mn"))
                .select(F.col(SRC).alias(ID), "_mn")
            )
            winners = (
                und.join(mn, on=ID, how="left")
                .where(F.col("_mn").isNull() | (F.col("_p") < F.col("_mn")))
                .select(ID)
            )
            nbrs = (
                E.join(
                    hint(winners.select(F.col(ID).alias(SRC))), on=SRC, how="left_semi"
                )
                .select(F.col(DST).alias(ID))
                .distinct()
            )
            nxt = (
                st.join(winners.select(ID, F.lit(True).alias("_w")), on=ID, how="left")
                .join(nbrs.select(ID, F.lit(True).alias("_nb")), on=ID, how="left")
                .select(
                    ID,
                    "_p",
                    F.when(F.col("_st") != UNDECIDED, F.col("_st"))
                    .when(F.col("_w"), F.lit(IN_MIS))
                    .when(F.col("_nb"), F.lit(OUT))
                    .otherwise(F.lit(UNDECIDED))
                    .alias("_st"),
                )
            )
            # ONE action: checkpoint + undecided census
            st, stats = loop.step(
                nxt, replaces=st, undecided=F.sum((F.col("_st") == UNDECIDED).cast("long"))
            )
            if not stats["undecided"] or (max_rounds and loop.round >= max_rounds):
                break

        loop.finish(st)
    return MISResult(
        members=st.where(F.col("_st") == IN_MIS).select(ID),
        rounds=loop.round,
        history=loop.history,
    )
