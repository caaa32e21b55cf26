"""Pregel connected components: max-label flood.

Transliterates include/graphblas/algorithms/
pregel_connected_components.hpp:47-169: labels init to the vertex id
(set<use_index>, :136); per round a vertex 1) broadcasts its label when
outdegree > 0 (else votes halt), 2) with indegree == 0 votes halt, else
3) adopts a larger incoming label or votes halt. Combiner: (max, -inf)
(:149-152). Labels are exact integers — the reference requires **max**
label (not min) and we match that.

The program is a set of Column expressions that the Pregel runtime
fuses into each superstep's join projection; no row leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import algebra as alg
from ..pregel import PregelContext, PregelResult, pregel


def _cc_program(ctx: PregelContext) -> dict[str, Column]:
    label, outdeg = F.col("state"), F.col("outdegree")
    halt = outdeg == 0
    if ctx.round > 0:
        # a vertex with no in-edges never adopts, so ~adopt is its halt vote
        adopt = (F.col("indegree") != 0) & (label < F.col("incoming"))
        halt = halt | ~adopt
        label = F.when(adopt, F.col("incoming")).otherwise(label)
    return {
        "state": label,
        "out": F.when(outdeg > 0, label).otherwise(F.col("out")),
        "halt": halt,
    }


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    max_rounds: int = 0,
    **kwargs,
) -> PregelResult:
    """Component id per vertex in ``state`` (exact; id = max vertex id of
    the component when the graph is symmetric)."""
    return pregel(
        spark,
        edges,
        n,
        program=_cc_program,
        combiner=alg.MAX_LONG,
        state_type="long",
        msg_type="long",
        init_use_index=True,
        max_rounds=max_rounds,
        **kwargs,
    )
