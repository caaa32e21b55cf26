"""Triangle counting via masked SpGEMM.

The reference ships no triangle algorithm (SURVEY.md §2.11) — the north
star asks for its composition from mxm (base/blas3.hpp:94) + intersection
eWiseApply + fold. At scale the unmasked A² explodes (quadratic in hub
degree), so the mask is pushed INTO the SpGEMM: candidate wedge (i,k)
pairs are semi-joined against the edge set before aggregation
(alp_spark.operators.blas3.mxm(mask=...)).

Additional scale guard: wedges are enumerated from the *oriented* graph
(src < dst ordering by degree-then-id), the standard trick that bounds
per-vertex wedge work by O(arboricity·deg) instead of O(deg²) on hubs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..containers import DST, SRC
from ..loop import Loop


@dataclass
class TriangleResult:
    total: int
    per_vertex: DataFrame  # (id, count) — triangles through each vertex


def triangle_count(edges: DataFrame) -> TriangleResult:
    """Count triangles in an UNDIRECTED graph given as a both-direction
    edge table (u→v and v→u both present, no self-loops). ONE action
    after the oriented edge cache: the per-vertex counts are checkpointed
    with the total observed on them; the triangles themselves are never
    persisted."""
    with Loop(edges.sparkSession, "triangles") as loop:
        # orient by (degree, id): each triangle counted exactly once
        deg = edges.groupBy(SRC).agg(F.count("*").alias("_d"))
        e, _ = loop.cache(
            edges.join(deg, on=SRC)
            .join(
                deg.select(F.col(SRC).alias(DST), F.col("_d").alias("_d2")),
                on=DST,
            )
            .where(
                (F.col("_d") < F.col("_d2"))
                | ((F.col("_d") == F.col("_d2")) & (F.col(SRC) < F.col(DST)))
            )
            .select(SRC, DST),
            resize=False,
        )

        # wedges i→j→k in the oriented graph, masked by the oriented edge set
        a = e.select(F.col(SRC).alias("i"), F.col(DST).alias("j"))
        b = e.select(F.col(SRC).alias("j"), F.col(DST).alias("k"))
        tri = a.join(b, on="j").join(
            e.select(F.col(SRC).alias("i"), F.col(DST).alias("k")),
            on=["i", "k"],
            how="left_semi",
        )
        # one pass over the unpersisted triangles: each is counted at its
        # three vertices
        per_vertex, stats = loop.checkpoint(
            tri.select(F.explode(F.array("i", "j", "k")).alias("id"))
            .groupBy("id")
            .agg(F.count("*").alias("count")),
            stage="count",
            incidences=F.sum("count"),
        )
        loop.finish(per_vertex)
    total = int(stats["incidences"] or 0) // 3
    return TriangleResult(total=total, per_vertex=per_vertex)


def local_clustering(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex over the symmetric edge
    table: ``coeff = 2·triangles / (deg·(deg−1))``, 0 when deg < 2 —
    the standard web-graph cohesion metric (Watts-Strogatz). Reuses the
    oriented masked-SpGEMM triangle enumeration (bounded wedge work on
    hubs); the degree side is one map-side-combined groupBy. Returns
    (id, degree, triangles, coeff) for every vertex with ≥1 edge."""
    res = triangle_count(edges)
    deg = edges.groupBy(SRC).agg(F.count("*").alias("degree"))
    tri = F.coalesce(F.col("count"), F.lit(0))
    return (
        deg.select(F.col(SRC).alias("id"), "degree")
        .join(res.per_vertex, on="id", how="left")
        .select(
            "id",
            F.col("degree").cast("long").alias("degree"),
            tri.cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * tri / (F.col("degree") * (F.col("degree") - 1)), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
    )
