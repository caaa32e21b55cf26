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
   last message. We reproduce that exactly by default — it is
   load-bearing for round-count and label parity.
6. ``sparsify`` exposes the reference's full SparsificationStrategy set
   (pregel.hpp:167-242, applied at :887-898): under
   'always'/'when_reduced'/'when_halved' the outgoing-message vector is
   restricted to the active set (and reset to the combiner identity)
   right after an exchange, so inactive vertices stop broadcasting and
   the exchange join input shrinks with the frontier. The reference
   applies sparsify AFTER the vxm; in this loop's phase (exchange at
   round entry) that lands between assembling ``incoming`` and running
   the program, as one more masked Column in the same projection.
   Liveness is tracked in the ``_out_live`` column; ``out_nnz`` (the
   trigger's cost input) is carried on the driver. Measured
   (scripts/bench_pregel_sparsify.py, BASELINE.md round 5): the
   reference's "ALWAYS is slower" result does NOT carry over — all
   strategies sit within ~7% on the CC flood (ALWAYS slightly ahead).
   Default stays 'none' for reference parity; enabling it is safe and
   pays on early-decaying frontiers.

Per-superstep Spark cost: ONE SQL execution. It runs the message
groupBy (shuffle; map-side partial agg absorbs hub in-degree skew), the
state ⋈ messages join with the vertex program fused into its
projection, and an eager ``localCheckpoint`` that truncates lineage.
The halt vote, active census and program-row count ride on that same
action as ``observe`` metrics, so there is no separate stats job. State
is also parquet-checkpointed with lineage + metrics every
``checkpoint_every`` rounds (resumable — north rule).

The per-vertex ``PregelState`` fields (pregel.hpp:266-326) map to columns
``active, halt, outdegree, indegree, id`` plus context globals
``round, num_vertices, num_edges`` on :class:`PregelContext`.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType, _parse_datatype_string

from . import algebra as alg
from .containers import DST, ID, SRC, VAL
from .operators import vxm
from .plans.partitions import cache_sized, range_partitions


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
_SPARSIFY = ("none", "always", "when_reduced", "when_halved")


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


def _checkpoint(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` plus the named aggregates over
    it, observed in the same Spark action."""
    obs = Observation()
    df = df.observe(obs, *[c.alias(k) for k, c in aggs.items()])
    return df.localCheckpoint(eager=True), obs.get


def _release(df: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``ed frame. Its RDD is not
    in the cache manager, so ``DataFrame.unpersist`` does not reach it;
    ``RDD.unpersist`` would log a lineage warning every superstep."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    rdd.context().unpersistRDD(rdd.id(), False)


def _degrees(spark: SparkSession, edges: DataFrame, n: int) -> DataFrame:
    """Out/in-degrees per vertex, one pass each (the Pregel constructor's
    mxv over (add, right_assign_if) with dense+transpose descriptors,
    pregel.hpp:380-416)."""
    out = edges.groupBy(F.col(SRC).alias(ID)).agg(F.count("*").alias("outdegree"))
    inn = edges.groupBy(F.col(DST).alias(ID)).agg(F.count("*").alias("indegree"))
    return (
        spark.range(0, n, 1, range_partitions(spark, n))
        .select(F.col("id").alias(ID))
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
    num_edges: int | None = None,
    checkpointer=None,
    checkpoint_every: int = 10,
    resume_state: DataFrame | None = None,
    resume_round: int = 0,
    sparsify: str = "none",
) -> PregelResult:
    """Run a vertex program to termination (pregel.hpp:650-920).

    ``sparsify``: the reference SparsificationStrategy for the outgoing
    message vector (pregel.hpp:167-242) — 'none' (reference default,
    inactive vertices keep broadcasting their last message) | 'always' |
    'when_reduced' | 'when_halved'.

    ``history`` holds one entry per superstep: the active census after
    it, the halt vote, the cumulative count of vertices that ran the
    program, the out-vector nnz and the superstep's wall time.
    """
    if sparsify not in _SPARSIFY:
        raise ValueError(f"sparsify must be one of {_SPARSIFY}")
    # the superstep loop scans the edge table every round: cache it ONCE
    # in a size-derived layout (guide §2/§5 — it was re-derived from its
    # source plan per round before) and reuse the count it needed anyway
    edges, counted = cache_sized(spark, edges, key=SRC)
    nnz = num_edges if num_edges is not None else counted
    state_dt = _parse_datatype_string(state_type)
    msg_dt = _parse_datatype_string(msg_type)
    msg_id_col = _struct_lit(combiner.identity, msg_dt)
    ring = alg.Semiring(add=combiner, mul=alg.left_assign, one=True)
    active, ran = F.col("active"), F.col("_ran")

    state = None  # the latest checkpoint
    try:
        if resume_state is not None:
            init = resume_state.select(*_STATE_COLS)
            step = resume_round
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
            step = 0
        # out-liveness under sparsification; on resume the live set
        # restarts at the active set (≡ a sparsify applied at resume) for
        # != 'none'. The census is observed on the same action (a resumed
        # state can carry inactive rows).
        live_init = F.lit(True) if sparsify == "none" else active
        state, stats = _checkpoint(
            init.withColumn("_out_live", live_init),
            n_active=F.sum(active.cast("long")),
        )
        n_active = int(stats["n_active"] or 0)

        history: list[dict] = []
        converged = True
        out_nnz = n  # nnz of the outgoing-message vector (driver-tracked)
        program_rows = 0
        while True:
            t0 = time.perf_counter()
            # ---- exchange: incoming[j] = ⊕_{i→j, live(i)} out[i] -----------
            # when EVERY vertex is active (halt-vote-only programs never
            # shrink the set) the output mask is a per-round no-op: skip it
            split = n_active < n
            if step == 0 and resume_state is None:
                cur, incoming = state, msg_id_col
            else:
                out_vec = (
                    state.where("_out_live") if sparsify != "none" else state
                ).select(ID, F.col("out").alias(VAL))
                # the out vector has out_nnz entries: broadcast-join when
                # it fits, shuffle otherwise — the CRS/CCS direction
                # choice. n_active is already counted on the driver: pass
                # it through so a small-frontier round broadcasts the
                # out-mask semi-join too and the edge table is never
                # shuffled (the reference's counted-size emiim choice,
                # reference/blas2.hpp:1063-1145)
                msgs = vxm(
                    out_vec, edges, ring,
                    out_mask=state.where("active").select(ID) if split else None,
                    strategy="auto", frontier_nnz=out_nnz,
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

            # ---- sparsify-out (reference order: right after the vxm,
            # before the program — pregel.hpp:887-898) ---------------------
            do_sparsify = sparsify != "none" and (step > 0 or resume_state is not None) and (
                sparsify == "always"
                or (sparsify == "when_reduced" and out_nnz > n_active)
                or (sparsify == "when_halved" and n_active <= out_nnz // 2)
            )
            if do_sparsify:
                out_nnz = n_active
            # program inputs: live := active and out := combiner identity
            # on a sparsify round; halt votes reset (pregel.hpp:865-870)
            cur = cur.select(
                ID,
                "state",
                (F.when(active, msg_id_col).otherwise(F.col("out"))
                 if do_sparsify else F.col("out")).alias("out"),
                incoming.alias("incoming"),
                "active",
                F.lit(False).alias("halt"),
                "outdegree",
                "indegree",
                active.alias("_ran"),
                (active if do_sparsify else active | F.col("_out_live")).alias("_out_live"),
            )

            ctx = PregelContext(round=step, num_vertices=n, num_edges=nnz, data=data)
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
                "outdegree", "indegree", "_ran", "_out_live",
            )
            # ONE action: checkpoint + halt vote + census + program rows
            new, stats = _checkpoint(
                new,
                all_halt=F.min(F.when(ran, F.col("halt"))),
                n_active=F.sum(active.cast("long")),
                ran=F.sum(ran.cast("long")),
            )
            _release(state)
            state = new
            step += 1

            n_active = int(stats["n_active"] or 0)
            all_halt = bool(stats["all_halt"])
            program_rows += int(stats["ran"] or 0)
            history.append(
                {
                    "round": step,
                    "active": n_active,
                    "all_halt": all_halt,
                    "program_rows": program_rows,
                    "out_nnz": out_nnz,
                    "wall_s": time.perf_counter() - t0,
                }
            )

            if checkpointer is not None and step % checkpoint_every == 0:
                checkpointer.save(
                    state.select(*_STATE_COLS),
                    superstep=step,
                    metrics={"active": n_active, "all_halt": all_halt},
                )

            if all_halt:  # everyone who ran voted to halt (pregel.hpp:816-822)
                break
            if n_active == 0:  # all vertices inactive (pregel.hpp:840-847)
                break
            if max_rounds > 0 and step > max_rounds:  # (pregel.hpp:850-858)
                converged = False
                break

        result = state.select(*_STATE_COLS)
        if checkpointer is not None:
            checkpointer.save(
                result, superstep=step, metrics={"rounds": step, "converged": converged},
                final=True,
            )
    except BaseException:
        if state is not None:  # the last checkpoint; nothing is returned
            _release(state)
        raise
    finally:
        edges.unpersist()
    return PregelResult(state=result, rounds=step, converged=converged, history=history)
