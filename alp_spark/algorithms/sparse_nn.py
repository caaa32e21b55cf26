"""Sparse neural-network single inference (GraphChallenge style).

Transliterates include/graphblas/algorithms/sparse_nn_single_inference.hpp
(internal kernel :53-176; public thresholded/unthresholded wrappers
:262-430), the linear-algebraic HPEC GraphChallenge formulation the
reference smoke-tests against golden MNIST outputs
(tests/smoke/graphchallenge_nn_single_inference.cpp:80-300):

    out := in · layers[0];  out += biases[1]
    for i in 1 .. L-2:
        out := relu(out)        (foldl(out, 0, max), :142)
        out := min(out, θ)      (thresholded only, :146)
        out := out · layers[i]; out += biases[i+1]   (:157-163)
    out := relu(out);  out := min(out, θ)            (:165-171)

Faithfully reproduced conventions:
- vectors are DENSE: the reference grb::set(out, 0) before every vxm
  and folds bias/relu under descriptors::dense over all n entries —
  here each layer output left-joins the full vertex range and missing
  entries coalesce to the additive identity 0 before the bias add;
- with L matrices in ``layers``, ``layers[L-1]`` is never multiplied
  and ``biases[0]`` is never consumed (the loop applies layers[0..L-2]
  with biases[1..L-1] — sparse_nn_single_inference.hpp:132-163); the
  run-time checks still require len(biases) == len(layers) (:82-84)
  and square layer matrices (:94-98);
- relu is applied BEFORE the next layer and once after the loop; the
  first vxm output receives no activation until loop entry.

Spark plan: each applied layer is ONE vxm (edge equi-join + groupBy
sum — broadcast or shuffle per the engine's auto strategy) followed by
pure Column bias/relu/threshold arithmetic; no Python in the loop. Each
applied layer is one eager :meth:`alp_spark.loop.Loop.step` that
releases the layer before it, so lineage never spans two layers. At
100 TB the per-layer shuffle keys are the weight-matrix dst ids — the
same partitioning every iterative algorithm here uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import algebra as alg
from ..containers import ID, VAL
from ..loop import Loop
from ..operators import vxm
from ..plans.partitions import vertex_ids


def sparse_nn_single_inference(
    spark: SparkSession,
    in_vec: DataFrame,  # (id, val), may be sparse — missing ids are 0
    layers: list[DataFrame],  # square (src, dst, val) weight matrices
    biases: list[float],
    n: int,
    threshold: float | None = None,  # None ⇔ unthresholded wrapper (:262)
) -> DataFrame:
    """Run one input through the sparse net; returns dense (id, val)."""
    num_layers = len(layers)
    if num_layers == 0:
        raise ValueError("need at least one layer (reference ILLEGAL)")
    if len(biases) != num_layers:
        raise ValueError("biases must match layers (reference ILLEGAL)")
    if num_layers < 2:
        # the reference reads biases[1] unconditionally (:136-138); a
        # 1-layer call is out-of-bounds UB there — reject it loudly here
        raise ValueError("reference convention needs >= 2 layers")

    ids = vertex_ids(spark, n)

    def densify(vec: DataFrame, bias: float) -> DataFrame:
        return ids.join(vec, on=ID, how="left").select(
            ID,
            (F.coalesce(F.col(VAL), F.lit(0.0)) + F.lit(float(bias))).alias(VAL),
        )

    def activate(vec: DataFrame) -> DataFrame:
        v = F.greatest(F.col(VAL), F.lit(0.0))  # foldl(out, 0, relu)
        if threshold is not None:
            v = F.least(v, F.lit(float(threshold)))  # foldl(out, θ, min)
        return vec.select(ID, v.alias(VAL))

    with Loop(spark, "sparse_nn") as loop:
        cur, _ = loop.step(densify(vxm(in_vec, layers[0], alg.PLUS_TIMES), biases[1]))
        for i in range(1, num_layers - 1):
            cur, _ = loop.step(
                densify(vxm(activate(cur), layers[i], alg.PLUS_TIMES), biases[i + 1]),
                replaces=cur,
            )
        loop.finish(cur)
    return activate(cur)
