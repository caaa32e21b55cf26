"""Canonical PageRank with dangling-node correction.

Transliterates the *semantics* of the reference
(include/graphblas/algorithms/simple_pagerank.hpp:134-494) into a
driver-side loop over DataFrame jobs:

- init pr = 1/n (dense)                       (simple_pagerank.hpp:200)
- row sums via the (plus, left_assign_if) pattern ring with transpose
  (simple_pagerank.hpp:210-222) → out-degrees; absent = dangling row
- inv[i] = α/rowsum[i], dangling rows stay absent
  (simple_pagerank.hpp:241-249 keeps 0; sparse-absent ≡ 0 here)
- per iteration (simple_pagerank.hpp:286-451):
    dangling  = Σ pr[i] over dangling i        (foldl<invert_mask>, :312)
    scaled    = pr ⊗ inv  (intersection drops dangling rows, :291-302)
    d         = (α·dangling + 1 - α)/n                            (:351)
    pr'       = scaled · L + d     (vxm plus-times, :361; + fold, :402)
    residual  = Σ|pr' - pr|        (dot under (add, abs_diff), :433-437)
    stop when residual ≤ conv or iter == max

Scale design: the loop invariants ride in the checkpointed state
``(id, val, _inv[, _tele])``: ``inv`` (null on dangling rows) and the
teleport share are joined once, into the initial checkpoint, as ALP
computes ``inv`` once (simple_pagerank.hpp:241-249). So the only
per-iteration joins are the vxm's (its groupBy(dst) is the one shuffle;
map-side partial aggregation absorbs hub in-degree skew) and
``pr ⋈ new``. Each iteration is one :meth:`alp_spark.loop.Loop.step`:
one action that checkpoints the state and observes the residual AND the
*next* iteration's dangling mass (the initial mass rides on the initial
checkpoint). Snapshots keep ``(id, val)`` only (``_`` columns are not
saved), so a resumed run re-joins the invariants in its init checkpoint.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import algebra as alg
from ..containers import ID, VAL, set_dense
from ..loop import Loop
from ..operators import vxm
from ..operators.blas2 import BROADCAST_NNZ_THRESHOLD, broadcast_if_fits

#: 'auto' broadcasts the dense rank vector up to this n. 16x the sparse
#: frontier threshold (blas2.BROADCAST_NNZ_THRESHOLD) ≈ 256 MB of
#: (id, val) pairs per executor as a broadcast hash table — sized for
#: >= 4 GB executors; pass strategy='shuffle' on memory-constrained
#: clusters. The win it buys: the persisted dst-partitioned edge table
#: is never re-shuffled, so each iteration runs with ZERO Exchange.
DENSE_BROADCAST_NNZ = 16 * BROADCAST_NNZ_THRESHOLD


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id, val)
    iterations: int
    residual: float
    residuals: list[float] = field(default_factory=list)
    history: list[dict] = field(default_factory=list)


def simple_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    alpha: float = 0.85,
    conv: float = 1e-7,
    max_iter: int = 1000,
    checkpointer=None,
    checkpoint_every: int = 5,
    strategy: str = "auto",
    teleport: DataFrame | None = None,
) -> PageRankResult:
    """Run PageRank to convergence; defaults mirror the reference
    (α=0.85, conv=1e-7, max=1000 — simple_pagerank.hpp:140-142).

    ``teleport``: optional personalization vector (id, val), val ≥ 0
    summing to 1 — the teleport + dangling mass lands on these vertices
    ∝ val instead of uniformly (personalized PageRank). Vertices absent
    from the frame get teleport 0; iteration starts from the teleport
    distribution. ``teleport=None`` keeps the reference-uniform path
    bit-for-bit (the uniform case divides by n rather than multiplying
    by a 1/n teleport value, so existing oracles are unaffected).

    ``strategy``: vxm join strategy per iteration. 'auto' broadcasts the
    (always dense) rank vector when it fits executor memory
    (n ≤ :data:`DENSE_BROADCAST_NNZ`, see there for the memory math), so
    the edge table — persisted here once — is never re-shuffled; larger
    graphs fall back to the shuffle hash join.
    The analog of the reference's CRS/CCS loop-size strategy choice
    (reference/blas2.hpp:1104-1145).

    Resumable: ``pr`` is checkpointed every ``checkpoint_every``
    iterations; pass a checkpointer whose run holds a snapshot and the
    iteration continues from its ranks and iteration count.
    """
    if not 0 < alpha < 1 or max_iter <= 0:
        raise ValueError("alpha must be in (0,1), max_iter > 0")  # ILLEGAL checks

    if strategy == "auto":
        strategy = "broadcast" if n <= DENSE_BROADCAST_NNZ else "shuffle"
    with Loop(spark, "simple_pagerank", checkpointer, checkpoint_every) as loop:
        if not edges.storageLevel.useMemory:
            # pre-partition by dst ONCE (broadcast strategy): the
            # broadcast hash join preserves this partitioning, so every
            # iteration's groupBy(dst) runs exchange-free. The partition
            # count is size-derived (guide §2), capped at the conf
            # parallelism — at scale this is exactly the old conf-sized
            # layout.
            edges, _ = loop.cache(
                edges, key="dst" if strategy == "broadcast" else None
            )

        # --- prelude: inverted scaled out-degrees ---------------------------
        # A pattern matrix normalizes by out-degree (count); a weighted
        # matrix (VAL column present) normalizes by out-WEIGHT — the per-
        # iteration vxm below already multiplies by the matrix value, so
        # switching only this prelude ring yields exact weighted PageRank
        # (rank flows ∝ w/Σ_out w). Reference PageRank is pattern-only
        # (simple_pagerank.hpp:210-222); the weighted path serves coarsened
        # graphs (e.g. host-level rollups carrying link multiplicities).
        row_ring = alg.PLUS_TIMES if VAL in edges.columns else alg.PLUS_FIRST
        ones = set_dense(spark, n, 1.0)
        # the prelude row-sum uses the same strategy gate as the loop: the
        # dense ones vector broadcasts when n fits, so the cached edge
        # table is never shuffled for the degree pass either
        inv = vxm(ones, edges, row_ring, transpose=True, strategy=strategy).select(
            F.col(ID), (F.lit(alpha) / F.col(VAL)).alias("_inv")
        )

        if teleport is None:
            state = set_dense(spark, n, 1.0 / n)
        else:
            # densify to all n rows (non-seed vertices still RECEIVE link
            # mass, so the iterate must stay dense); pr0 = v
            state = (
                set_dense(spark, n, 0.0)
                .join(teleport.select(ID, F.col(VAL).alias("_t")), on=ID, how="left")
                .select(ID, F.coalesce(F.col("_t"), F.lit(0.0)).alias("_tele"))
                .withColumn(VAL, F.col("_tele"))
            )
        if loop.resumed is not None:
            state = state.drop(VAL).join(loop.resumed.select(ID, VAL), on=ID)
        # the invariants join the state ONCE: _inv is null on dangling rows
        state = state.join(broadcast_if_fits(inv, n), on=ID, how="left")
        dangling_col = F.sum(F.when(F.col("_inv").isNull(), F.col(VAL)))
        pr, stats = loop.checkpoint(state, dangling=dangling_col)
        carried = [c for c in ("_inv", "_tele") if c in pr.columns]

        residual = float("inf")
        while True:
            dangling = float(stats["dangling"] or 0.0)
            if teleport is None:
                add = F.lit((alpha * dangling + 1.0 - alpha) / n)
            else:
                # personalized: the same scalar mass lands ∝ teleport value
                add = F.lit(alpha * dangling + 1.0 - alpha) * F.col("_tele")

            # scaled = pr ⊗ inv (dangling rows drop out); new = scaled·L
            # (sparse); next = coalesce(new, 0) + teleport share, carried
            # with the old value for the residual and the invariants
            scaled = pr.where(F.col("_inv").isNotNull()).select(
                ID, (F.col(VAL) * F.col("_inv")).alias(VAL)
            )
            new = vxm(scaled, edges, alg.PLUS_TIMES, strategy=strategy)
            nxt = pr.alias("p").join(new.alias("m"), on=ID, how="left").select(
                F.col(ID),
                (F.coalesce(F.col(f"m.{VAL}"), F.lit(0.0)) + add).alias(VAL),
                F.col(f"p.{VAL}").alias("_old"),
                *carried,
            )
            # ONE action: checkpoint + L1 residual + next iteration's
            # dangling mass
            pr, stats = loop.step(
                nxt,
                replaces=pr,
                residual=F.sum(F.abs(F.col(VAL) - F.col("_old"))),
                dangling=dangling_col,
            )
            residual = float(stats["residual"])
            if (conv != 0.0 and residual <= conv) or loop.round >= max_iter:
                break

        loop.finish(pr, residual=residual)
    return PageRankResult(
        ranks=pr.select(ID, VAL),
        iterations=loop.round,
        residual=residual,
        residuals=[h["residual"] for h in loop.history],
        history=loop.history,
    )


def simple_pagerank_csr(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    alpha: float = 0.85,
    conv: float = 1e-7,
    max_iter: int = 1000,
    checkpointer=None,
    checkpoint_every: int = 5,
) -> PageRankResult:
    """Same semantics as :func:`simple_pagerank`, executed over one-time
    packed CSR edge blocks (north-star physical form; see
    :mod:`alp_spark.plans.csr_blocks`).

    Per iteration: ONE ``mapInPandas`` pass over the cached blocks (no
    edge shuffle) + one small collect; all O(n) vector algebra (scale,
    dangling fold, residual) runs as driver numpy — the analog of ALP's
    fused ``eWiseLambda`` steps (simple_pagerank.hpp:291-302/402-416).
    The rank-vector hand-off picks its transport automatically (local →
    file, cluster → TorrentBroadcast; csr_blocks.spmv_dense).

    The dense rank vector lives on the driver (8n bytes of float64). A
    graph whose vector does not fit the driver runs
    :func:`simple_pagerank`: the Loop-based DataFrame engine handles any
    n with ``strategy='shuffle'``. Resumable and with a ``history`` like
    :func:`simple_pagerank`.
    """
    import numpy as np

    from ..plans.csr_blocks import build_csr_blocks, spmv_dense

    if not 0 < alpha < 1 or max_iter <= 0:
        raise ValueError("alpha must be in (0,1), max_iter > 0")

    csr = build_csr_blocks(spark, edges, n)
    try:
        # out-degrees (row sums of the pattern matrix) in one aggregation
        deg_pdf = (
            edges.groupBy(F.col("src").alias(ID))
            .agg(F.count("*").alias("deg"))
            .toPandas()
        )
        outdeg = np.zeros(n, dtype=np.float64)
        if len(deg_pdf):
            outdeg[deg_pdf[ID].to_numpy(dtype=np.int64)] = deg_pdf["deg"].to_numpy()
        dangling_mask = outdeg == 0.0
        inv = np.where(dangling_mask, 0.0, alpha / np.where(dangling_mask, 1.0, outdeg))

        pr, iters = np.full(n, 1.0 / n, dtype=np.float64), 0
        if checkpointer is not None and checkpointer.latest() is not None:
            snap, rec = checkpointer.load(spark)
            pr, iters = snap.toPandas().sort_values(ID)[VAL].to_numpy(), rec["superstep"]
        residual, history = float("inf"), []
        t0 = time.perf_counter()
        while True:
            dangling = float(pr[dangling_mask].sum())
            d = (alpha * dangling + 1.0 - alpha) / n
            nxt = spmv_dense(spark, csr, pr * inv) + d
            residual = float(np.abs(nxt - pr).sum())
            pr = nxt
            iters += 1
            history.append(
                {"round": iters, "wall_s": time.perf_counter() - t0, "residual": residual}
            )
            if checkpointer is not None and iters % checkpoint_every == 0:
                checkpointer.save(_ranks_df(spark, pr), iters, {"residual": residual})
            if (conv != 0.0 and residual <= conv) or iters >= max_iter:
                break
            t0 = time.perf_counter()
    finally:
        csr.unpersist()

    ranks = _ranks_df(spark, pr)
    if checkpointer is not None:
        checkpointer.save(ranks, superstep=iters, metrics={"residual": residual}, final=True)
    return PageRankResult(
        ranks=ranks, iterations=iters, residual=residual,
        residuals=[h["residual"] for h in history], history=history,
    )


def _ranks_df(spark, pr):
    import pandas as pd

    pdf = pd.DataFrame({ID: range(len(pr)), VAL: pr})
    return spark.createDataFrame(pdf, schema=f"{ID} long, {VAL} double")
