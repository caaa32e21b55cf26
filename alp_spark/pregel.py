"""Vertex-centric Pregel runtime on DataFrames.

Re-expresses ``grb::interfaces::Pregel`` (reference:
include/graphblas/interfaces/pregel.hpp:337-953) as a driver-side
superstep loop over one state DataFrame; semantics traced from the
reference ``execute`` (pregel.hpp:650-920):

1. the vertex program runs on ACTIVE vertices only (masked eWiseLambda,
   pregel.hpp:765-804). A program is a function ``ctx -> {column:
   Column}`` that builds Column expressions over the superstep frame
   (``id, state, out, incoming, active, outdegree, indegree``; struct
   state fields read as ``F.col("state.<field>")``) and returns new
   values for any of ``state, out, active, halt``. The runtime applies
   them under ``F.when`` on the round-entry ``active`` flag in the
   projection right after the message join, so the program is fused
   into that join's codegen stage and never leaves the JVM; inactive
   rows keep their values.
2. halt check: terminate when every vertex that ran this round voted to
   halt (foldl over the round-entry active set, pregel.hpp:812-814);
3. the active set only shrinks (sparsification, pregel.hpp:831-833);
   terminate when empty (:840-847); ``max_rounds`` → FAILED (:850-858);
4. halt votes reset each round (:865-878);
5. message exchange: in[j] = ⊕_{i→j} out[i], output-masked to the new
   active set — the (⊕, left_assign_if) broadcast ring vxm
   (pregel.hpp:882-884, ring built at :714-721). NOTE the reference
   default keeps ``out`` dense (SparsificationStrategy NONE,
   pregel.hpp:242): vertices that went inactive KEEP broadcasting their
   last message. We reproduce that exactly — it is load-bearing for
   round-count and label parity.
6. NONE is the only SparsificationStrategy (pregel.hpp:167-242): the
   outgoing-message vector is always the n-row state. The reference
   defaults to NONE because restricting that workspace to the active set
   is typically not worth it (pregel.hpp:183-184), and that holds here:
   on the sf0.01 driver graph, local-convergence PageRank took 9 rounds
   under NONE and 78-98 rounds under WHEN_HALVED/ALWAYS, which also
   change the scores, while a halt-vote program such as CC never
   deactivates a vertex, so the other strategies do nothing there
   (CHANGES.md).

Per-superstep Spark cost: ONE SQL execution — one
:meth:`alp_spark.loop.Loop.step`, the runtime every census loop shares.
It runs the message groupBy (shuffle; map-side partial agg absorbs hub
in-degree skew), the state ⋈ messages join with the vertex program fused
into its projection, and an eager local checkpoint that truncates
lineage. The halt vote, active census and program-row count ride on that
same action as ``observe`` metrics, so there is no separate stats job.
The loop runtime also releases the previous superstep's checkpoint,
labels every job ``pregel:<stage>:<superstep>``, records ``history`` and
parquet-checkpoints the state with lineage + metrics every
``checkpoint_every`` rounds (resumable — north rule).

The per-vertex ``PregelState`` fields (pregel.hpp:266-326) map to columns
``active, halt, outdegree, indegree, id`` plus context globals
``round, num_vertices, num_edges`` on :class:`PregelContext`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType, _parse_datatype_string

from . import algebra as alg
from .containers import DST, ID, SRC, VAL
from .loop import Loop
from .operators import vxm
from .plans.partitions import vertex_ids


@dataclass
class PregelContext:
    round: int
    num_vertices: int
    num_edges: int
    data: object = None


@dataclass
class PregelResult:
    state: DataFrame  # (id, state, out, active, halt, outdegree, indegree)
    rounds: int
    converged: bool  # False ⇔ max_rounds exceeded (reference RC FAILED)
    history: list[dict] = field(default_factory=list)


VertexProgram = Callable[[PregelContext], dict[str, Column]]

_STATE_COLS = ["id", "state", "out", "active", "halt", "outdegree", "indegree"]
_PROGRAM_OUT = ("state", "out", "active", "halt")


def _struct_lit(value, dt: DataType):
    """Literal Column for a scalar or a struct-typed tuple value
    (reference vertex programs take arbitrary POD state,
    interfaces/pregel.hpp:508-663)."""
    if isinstance(dt, StructType):
        vals = value if isinstance(value, (tuple, list)) else (value,) * len(dt)
        return F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(vals, dt.fields)
            ]
        )
    return F.lit(value).cast(dt)


def _degrees(spark: SparkSession, edges: DataFrame, n: int) -> DataFrame:
    """Out/in-degrees per vertex, one pass each (the Pregel constructor's
    mxv over (add, right_assign_if) with dense+transpose descriptors,
    pregel.hpp:380-416)."""
    out = edges.groupBy(F.col(SRC).alias(ID)).agg(F.count("*").alias("outdegree"))
    inn = edges.groupBy(F.col(DST).alias(ID)).agg(F.count("*").alias("indegree"))
    return (
        vertex_ids(spark, n)
        .join(out, on=ID, how="left")
        .join(inn, on=ID, how="left")
        .select(
            ID,
            F.coalesce("outdegree", F.lit(0)).alias("outdegree"),
            F.coalesce("indegree", F.lit(0)).alias("indegree"),
        )
    )


def pregel(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    program: VertexProgram,
    combiner: alg.Monoid,
    state_type: str = "double",
    msg_type: str = "double",
    initial_state: object = 0.0,
    init_use_index: bool = False,
    data: object = None,
    max_rounds: int = 0,
    checkpointer=None,
    checkpoint_every: int = 10,
) -> PregelResult:
    """Run a vertex program to termination (pregel.hpp:650-920).

    ``history`` holds one entry per superstep: the active census after
    it, the halt vote, the cumulative count of vertices that ran the
    program and the superstep's wall time.

    Resumable: pass a checkpointer whose run holds a snapshot and the
    run continues from that superstep's state (:mod:`alp_spark.loop`).
    """
    state_dt = _parse_datatype_string(state_type)
    msg_dt = _parse_datatype_string(msg_type)
    msg_id_col = _struct_lit(combiner.identity, msg_dt)
    ring = alg.Semiring(add=combiner, mul=alg.left_assign, one=True)
    active, ran = F.col("active"), F.col("_ran")

    with Loop(spark, "pregel", checkpointer, checkpoint_every) as loop:
        # the superstep loop scans the edge table every round: cache it
        # ONCE in a size-derived layout (guide §2/§5) and reuse the count
        # it needed anyway
        edges, num_edges = loop.cache(edges, key=SRC)
        if loop.resumed is not None:
            init = loop.resumed.select(*_STATE_COLS)
        else:
            deg = _degrees(spark, edges, n)
            # init_use_index: state := vertex id (set<use_index>,
            # descriptors.hpp:167 — the Pregel CC label init,
            # pregel_connected_components.hpp:136)
            init_col = (
                F.col(ID).cast(state_type)
                if init_use_index
                else _struct_lit(initial_state, state_dt)
            )
            init = deg.select(
                ID,
                init_col.alias("state"),
                msg_id_col.alias("out"),
                F.lit(True).alias("active"),
                F.lit(False).alias("halt"),
                "outdegree",
                "indegree",
            )
        # the census is observed on the same action (a resumed state can
        # carry inactive rows)
        state, stats = loop.checkpoint(init, active=F.sum(active.cast("long")))
        n_active = int(stats["active"] or 0)

        converged = True
        program_rows = 0
        while True:
            # ---- exchange: incoming[j] = ⊕_{i→j} out[i] ---------------------
            # when EVERY vertex is active (halt-vote-only programs never
            # shrink the set) the output mask is a per-round no-op: skip it
            split = n_active < n
            if loop.round == 0:
                cur, incoming = state, msg_id_col
            else:
                out_vec = state.select(ID, F.col("out").alias(VAL))
                # the out vector has n entries: broadcast-join when
                # it fits, shuffle otherwise — the CRS/CCS direction
                # choice. n_active is already counted on the driver: pass
                # it through so a small-frontier round broadcasts the
                # out-mask semi-join too and the edge table is never
                # shuffled (the reference's counted-size emiim choice,
                # reference/blas2.hpp:1063-1145)
                msgs = vxm(
                    out_vec, edges, ring,
                    out_mask=state.where("active").select(ID) if split else None,
                    strategy="auto", frontier_nnz=n,
                    out_mask_nnz=n_active if split else None,
                )
                # NOTE: no broadcast hint on the msgs side of the state
                # join — measured (round 4): forcing it regressed the
                # iterative loop ~10×, while AQE already picks a
                # broadcast join from runtime stats when profitable. The
                # driver-informed hints live where they pay: the out-mask
                # semi-join and the frontier join INSIDE vxm.
                cur = state.join(
                    msgs.select(ID, F.col(VAL).alias("_msg")), on=ID, how="left"
                )
                incoming = F.coalesce(F.col("_msg"), msg_id_col)

            # program inputs; halt votes reset (pregel.hpp:865-870)
            cur = cur.select(
                ID,
                "state",
                "out",
                incoming.alias("incoming"),
                "active",
                F.lit(False).alias("halt"),
                "outdegree",
                "indegree",
                active.alias("_ran"),
            )

            ctx = PregelContext(
                round=loop.round, num_vertices=n, num_edges=num_edges, data=data
            )
            updates = program(ctx)
            unknown = set(updates) - set(_PROGRAM_OUT)
            if unknown:
                raise ValueError(f"vertex program may only set {_PROGRAM_OUT}, got {sorted(unknown)}")
            # masked eWiseLambda: only the vertices that entered the round
            # active run the program; the rest keep their values
            new = cur.select(
                ID,
                *[
                    F.when(ran, updates[c]).otherwise(F.col(c)).alias(c)
                    if c in updates else c
                    for c in _PROGRAM_OUT
                ],
                "outdegree", "indegree", "_ran",
            )
            # ONE action: checkpoint + halt vote + census + program rows
            state, stats = loop.step(
                new,
                replaces=state,
                active=F.sum(active.cast("long")),
                all_halt=F.min(F.when(ran, F.col("halt"))),
                ran=F.sum(ran.cast("long")),
            )
            n_active = int(stats["active"] or 0)
            all_halt = bool(stats["all_halt"])
            program_rows += int(stats["ran"] or 0)
            loop.history[-1]["program_rows"] = program_rows

            if all_halt:  # everyone who ran voted to halt (pregel.hpp:816-822)
                break
            if n_active == 0:  # all vertices inactive (pregel.hpp:840-847)
                break
            if max_rounds > 0 and loop.round > max_rounds:  # (pregel.hpp:850-858)
                converged = False
                break

        loop.finish(state, rounds=loop.round, converged=converged)
    return PregelResult(
        state=state.select(*_STATE_COLS), rounds=loop.round,
        converged=converged, history=loop.history,
    )
