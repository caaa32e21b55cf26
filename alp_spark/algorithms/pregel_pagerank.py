"""Pregel-style PageRank vertex program (no dangling correction, no
global norm — by design, see the reference's own caveat).

Transliterates include/graphblas/algorithms/pregel_pagerank.hpp:53-215:
round 0 → score := 1; round > 0 → score := α + (1-α)·incoming, and a
vertex whose |Δscore| < tolerance either deactivates (``local_converge``)
or votes to halt (global). Broadcast: out := score/outdegree when
outdegree > 0. Message combiner: (add, 0) (pregel_pagerank.hpp:202-203).
Defaults α=0.15, tolerance=1e-5 (pregel_pagerank.hpp:64-69).

The program is a set of Column expressions that the Pregel runtime fuses
into each superstep's join projection — the Spark analog of the
per-vertex lambda, with no row leaving the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import algebra as alg
from ..pregel import PregelContext, PregelResult, pregel


def _pagerank_step(score: Column, alpha: float, tolerance: float,
                   local_converge: bool, ctx: PregelContext):
    """The shared score update: ``(new score, |Δscore| or None, votes)``
    where ``votes`` sets ``active`` (local) or ``halt`` (global)."""
    if ctx.round == 0:
        return F.lit(1.0), None, {}
    new = F.lit(alpha) + F.lit(1.0 - alpha) * F.col("incoming")
    resid = F.abs(new - score)
    converged = resid < tolerance
    votes = {"active": ~converged} if local_converge else {"halt": converged}
    return new, resid, votes


def _broadcast(score: Column) -> Column:
    outdeg = F.col("outdegree")
    return F.when(outdeg > 0, score / outdeg).otherwise(F.col("out"))


def make_pagerank_program(alpha: float = 0.15, tolerance: float = 1e-5,
                          local_converge: bool = False):
    def program(ctx: PregelContext) -> dict[str, Column]:
        score, _, votes = _pagerank_step(
            F.col("state"), alpha, tolerance, local_converge, ctx
        )
        return {"state": score, "out": _broadcast(score), **votes}

    return program


def make_pagerank_residual_program(alpha: float = 0.15, tolerance: float = 1e-5,
                                   local_converge: bool = False):
    """The same vertex program over STRUCT state
    ``struct<score:double, residual:double>`` — the reference's
    arbitrary-POD vertex state (interfaces/pregel.hpp:508-663): the
    per-round |Δscore| rides in the state instead of being recomputed
    outside the loop. Fields are read as ``state.score`` and the new
    state is returned as one ``F.struct``."""

    def program(ctx: PregelContext) -> dict[str, Column]:
        score, resid, votes = _pagerank_step(
            F.col("state.score"), alpha, tolerance, local_converge, ctx
        )
        if resid is None:
            resid = F.lit(float("inf"))
        state = F.struct(score.alias("score"), resid.alias("residual"))
        return {"state": state, "out": _broadcast(score), **votes}

    return program


def pregel_pagerank_residual(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    alpha: float = 0.15,
    tolerance: float = 1e-5,
    local_converge: bool = False,
    max_rounds: int = 0,
    **kwargs,
) -> PregelResult:
    """PageRank with in-state residual over struct-typed Pregel state;
    score trajectory is identical to :func:`pregel_pagerank`."""
    return pregel(
        spark,
        edges,
        n,
        program=make_pagerank_residual_program(alpha, tolerance, local_converge),
        combiner=alg.PLUS,
        state_type="struct<score:double,residual:double>",
        msg_type="double",
        initial_state=(0.0, 0.0),
        max_rounds=max_rounds,
        **kwargs,
    )


def pregel_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    alpha: float = 0.15,
    tolerance: float = 1e-5,
    local_converge: bool = False,
    max_rounds: int = 0,
    **kwargs,
) -> PregelResult:
    return pregel(
        spark,
        edges,
        n,
        program=make_pagerank_program(alpha, tolerance, local_converge),
        combiner=alg.PLUS,
        state_type="double",
        msg_type="double",
        initial_state=0.0,
        max_rounds=max_rounds,
        **kwargs,
    )
