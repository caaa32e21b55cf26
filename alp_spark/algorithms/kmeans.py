"""k-means: k++ initialisation and Lloyd's iteration.

Transliterates include/graphblas/algorithms/kmeans.hpp —
``kpp_initialisation`` (kmeans.hpp:60-200) and ``kmeans_iteration``
(kmeans.hpp:224-373) — as DataFrame plans over a points table
``(id, vec array<double>)``:

- the reference's k×n distance mxm (kmeans.hpp:309-310) becomes one
  Column expression folding the squared-difference per dimension
  against the k current centroids, broadcast as literals (k·m doubles —
  the same data ALP holds replicated in the K matrix);
- the argmin vxm over the (argmin, zip) monoid (kmeans.hpp:313-314)
  becomes ``array_min`` over (dist, cluster) structs — ties break to
  the smaller cluster index, deterministically;
- the centroid update mxm/outer/eWiseApply chain (kmeans.hpp:325-341:
  per-cluster coordinate sums divided by cluster sizes) becomes ONE
  groupBy (cluster, dim) with map-side partial aggregation; only the
  k·m sum/count cells reach the driver — the Spark analog of ALP's
  replicated-K allreduce. Points never leave executors.

kpp_initialisation notes (kmeans.hpp:106-170):
- the reference seeds ``std::default_random_engine`` from the wall
  clock and its weighted-sampling scan is explicitly single-process
  ("does not work for P>1", kmeans.hpp:158-161). This version takes an
  explicit ``seed`` so runs are reproducible, and the prefix-sum scan
  runs as an ordered window (one narrow shuffle of n scalars).
- quirk reproduced for parity: the reference scans
  ``selected_distances`` (distance to the LATEST centroid,
  kmeans.hpp:163-168) — not ``min_distances`` — while ``range`` is the
  fold of ``min_distances`` (kmeans.hpp:142-143). We mirror that
  exactly; it is deterministic either way.

Convergence (kmeans.hpp:344-351 checks the (cluster, distance)
assignment pairs for equality): detected here as exact driver-side
centroid equality between consecutive iterations — assignments
stabilise ⇔ the deterministic sums/means stop changing bit-for-bit, so
both tests fire on the same iteration. At the fixpoint further
iterations are no-ops, which is what makes a pinned-unroll SQL oracle
exact for the converged run.

Empty clusters keep their previous centroid (guard; the reference's
sparse eWiseApply drops the row, kmeans.hpp:337-341 — a state no
shipped smoke test exercises).

Scale: per-iteration driver traffic is O(k·m); the assignment pass is
one scan with a literal-broadcast expression; the update is one shuffle
of k·m·P partial cells. The kpp scan's ordered window is O(n) rows of
one double through a single partition — kpp runs once, and the
reference's own kpp is a single-node loop.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..loop import Loop


@dataclass
class KmeansResult:
    assignments: DataFrame  # (id, cluster, dist) — dist to the winning centroid
    centroids: list[list[float]]  # k × m
    iterations: int
    converged: bool  # False ⇔ reference FAILED at max_iter
    history: list[dict]  # one {round, wall_s} per Lloyd iteration


def kpp_draws(n: int, k: int, seed: int) -> tuple[int, list[float]]:
    """The seeded random draws kpp consumes: the uniform first-centroid
    index (kmeans.hpp:108-117) and one U(0,1) sample per subsequent
    centroid (kmeans.hpp:145-155). Exposed so an external oracle can
    bake the identical literals."""
    rng = np.random.RandomState(seed)
    first = int(rng.randint(0, n))
    samples = [float(rng.uniform()) for _ in range(k - 1)]
    return first, samples


def _sq_dist(vec_col, centroid: list[float]):
    """Σ_d (vec[d] - c[d])² as a sequential left fold (stable term
    order — the same order an unrolled SQL oracle sums in)."""
    arr = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kpp_initialisation(
    spark: SparkSession,
    points: DataFrame,
    k: int,
    seed: int,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_cap: int | None = None,
) -> list[list[float]]:
    """k++ seeding (kmeans.hpp:60-200): start from a uniform random
    point, then repeatedly draw the next centroid with probability
    proportional to the reference's scan weights (see module note on
    the selected-vs-min distances quirk).

    ``sample_cap``: when set and n exceeds it, the exact scan runs on a
    deterministic hash-ranked sample of ``sample_cap`` points (seeded
    top-k by ``xxhash64(id, seed)`` — a per-partition top-k merge, no
    global sort shuffle), removing the single-partition O(n) ordered
    window at scale. The reference's own kpp is explicitly
    single-process (kmeans.hpp:158-161); seeding quality is preserved
    because k++ needs a spread sample, not the full corpus. With
    n ≤ sample_cap the input is untouched, so results equal the exact
    path bit-for-bit (pytest-asserted)."""
    with Loop(spark, "kpp") as loop:
        pts, stats = loop.checkpoint(
            points.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("vec"),
            ),
            n=F.count(F.lit(1)),
        )
        n = stats["n"]
        if sample_cap is not None and n > sample_cap:
            pts, _ = loop.checkpoint(
                pts.orderBy(F.xxhash64(F.col("id"), F.lit(int(seed))), "id")
                .limit(int(sample_cap)),
                stage="sample", replaces=pts,
            )
            n = int(sample_cap)
        first, samples = kpp_draws(n, k, seed)
        # the uniform draw indexes the id-ordered point list (the reference
        # indexes columns 0..n-1 of X); O(1) rows reach the driver
        rn = F.row_number().over(Window.orderBy("id"))
        sel = (
            pts.select("id", rn.alias("_rn"))
            .where(F.col("_rn").isin(first + 1, n))
            .orderBy("_rn")
            .collect()
        )
        max_id = sel[-1]["id"]
        sel = sel[0]["id"]

        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        centroids: list[list[float]] = []
        mdf, prev = pts.withColumn("mind", F.lit(float("inf"))), pts
        for l in range(k):
            cvec = [
                float(v)
                for v in mdf.where(F.col("id") == sel).select("vec").head()["vec"]
            ]
            centroids.append(cvec)
            if l == k - 1:
                break
            # selected_distances (latest centroid) + min_distances fold;
            # range := Σ min_distances (kmeans.hpp:142-143)
            mdf, stats = loop.step(
                mdf.select(
                    "id",
                    "vec",
                    _sq_dist(F.col("vec"), cvec).alias("_dl"),
                    "mind",
                ).withColumn("mind", F.least("mind", F.col("_dl"))),
                stage="kpp", replaces=prev, total=F.sum("mind"),
            )
            prev = mdf
            # scan selected_distances/range in id order; first id whose
            # running sum reaches the sample wins (kmeans.hpp:158-168)
            cum = F.sum(F.col("_dl") / F.lit(float(stats["total"]))).over(w)
            hit = (
                mdf.select("id", cum.alias("_cum"))
                .where(F.col("_cum") >= samples[l])
                .orderBy("id")
                .limit(1)
                .collect()
            )
            sel = hit[0]["id"] if hit else max_id  # reference clamp i = n-1
    return centroids


def kmeans(
    spark: SparkSession,
    points: DataFrame,
    k: int,
    seed: int,
    max_iter: int = 1000,
    id_col: str = "id",
    vec_col: str = "vec",
    init: list[list[float]] | None = None,
    kpp_sample_cap: int | None = None,
) -> KmeansResult:
    """kpp seeding + Lloyd's iteration (kmeans.hpp:224-373).

    ``kpp_sample_cap`` caps the kpp seeding scan to a deterministic
    sample (see :func:`kpp_initialisation`) — use ≈10⁶ when training a
    quantizer over billions of embeddings; Lloyd's iteration itself is
    fully distributed either way."""
    if k <= 0:
        raise ValueError("k must be positive (reference MISMATCH)")
    centroids = (
        [list(map(float, c)) for c in init]
        if init is not None
        else kpp_initialisation(
            spark, points, k, seed, id_col, vec_col,
            sample_cap=kpp_sample_cap,
        )
    )
    with Loop(spark, "kmeans") as loop:
        pts, _ = loop.checkpoint(
            points.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("vec"),
            ),
            stage="points",
        )
        assigned, converged = None, False
        for iters in range(1, max_iter + 1):
            # ---- assignment: argmin over (dist, cluster) structs -----------
            best = F.array_min(
                F.array(
                    *[
                        F.struct(
                            _sq_dist(F.col("vec"), c).alias("dist"),
                            F.lit(j).alias("cluster"),
                        )
                        for j, c in enumerate(centroids)
                    ]
                )
            )
            assigned, _ = loop.step(
                pts.withColumn("_b", best).select(
                    "id",
                    "vec",
                    F.col("_b.cluster").alias("cluster"),
                    F.col("_b.dist").alias("dist"),
                ),
                replaces=assigned,
            )
            # ---- update: per-(cluster, dim) sums; k·m cells to the driver --
            cells = (
                assigned.select("cluster", F.posexplode("vec").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
                .collect()
            )
            new_centroids = [list(c) for c in centroids]  # empty-cluster guard
            for row in cells:
                new_centroids[row["cluster"]][row["pos"]] = row["s"] / row["n"]
            if new_centroids == centroids:
                converged = True
                break
            centroids = new_centroids
        loop.finish(assigned)

    return KmeansResult(
        assignments=assigned.select("id", "cluster", "dist"),
        centroids=centroids,
        iterations=iters,
        converged=converged,
        history=loop.history,
    )
