"""The one partition-sizing rule for persisted and seeded frames.

Guide §2 (shuffles/partitioning): partitioning must be *derived from
input size*, not pinned to a constant tuned for either local mode or
one cluster shape. The iterative algorithms persist an edge table and
a state vector once and then scan them every round; when those frames
carry a handful of MB split across the conf-sized partition count,
every round pays tens of near-empty task launches per scan — measured
on the bench fixture (sf0.1, 700k-edge symmetric table, local[32]):
re-laying the persisted loop state into size-derived partitions cuts
the 4-round MIS loop from 10.4 s to 5.3 s with bit-identical output.

The rule, :func:`partitions_for`: ``partitions = clamp(⌈size_bytes /
TARGET_BYTES⌉, 1, spark.sql.shuffle.partitions)``. It has three
inputs, one per kind of frame:

- a cached loop invariant (:func:`cache_sized`) passes the optimizer's
  own ``sizeInBytes`` estimate of its plan (the driver-side cost input —
  the same counted-size strategy choice the reference makes for its
  gather/scatter kernels, reference/blas2.hpp:1063-1145), so no extra
  pass over the data is spent sizing it;
- a vertex-id seed (:func:`vertex_ids`) passes ``8n``, the estimate the
  optimizer gives ``spark.range(n)`` itself (8 bytes per long id), so it
  needs no JVM round trip;
- the CSR block build (:func:`~alp_spark.plans.csr_blocks.build_csr_blocks`)
  passes ``8m``, its packed chunk bytes (int32 ``src`` + int32 ``dstoff``
  per edge).

The *ceiling* is the session's configured shuffle parallelism: on a
real cluster (conf sized to 2-3x total cores) large inputs keep the
conf-sized partition count — only small frames lose their empty tasks,
and a wild over-estimate degrades to the conf-sized layout, never
worse. Like ALP's one distribution function that places every element
(bsp1d/distribution.hpp:37-96), it is the only code that reads the
parallelism settings.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

#: per-partition payload below which task-launch overhead dominates the
#: scan (measured locally; deliberately far below the AQE advisory size
#: because these frames are re-scanned every round). It is counted in
#: estimated bytes, which undershoot deserialized cache sizes (8 bytes
#: per range id against about 32 cached).
TARGET_BYTES = 2 << 20


def partitions_for(spark: SparkSession, size_bytes: int) -> int:
    """Partition count for a frame of ``size_bytes``: size-proportional,
    floored at 1, capped at the configured shuffle parallelism."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(cap, max(1, math.ceil(size_bytes / TARGET_BYTES)))


def vertex_ids(spark: SparkSession, n: int) -> DataFrame:
    """The vertex ids ``0..n-1`` as one ``id`` column, laid out by
    :func:`partitions_for` — the seed of every dense state vector."""
    return spark.range(0, n, 1, partitions_for(spark, 8 * n))


def cache_sized(
    spark: SparkSession,
    df: DataFrame,
    key: str | None = None,
) -> tuple[DataFrame, int]:
    """Persist ``df`` in a size-derived partition count (hash-
    partitioned by ``key`` when given — the co-location layout the loop
    joins expect at scale) and materialize it. Returns
    ``(cached_frame, n_rows)`` — every caller needed that count anyway.

    The partition count comes from the optimizer's ``sizeInBytes``
    estimate of the plan, so sizing costs no extra pass; estimates that
    run high simply reproduce the old conf-sized layout (the cap).
    """
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    p = partitions_for(spark, est)
    out = (df.repartition(p, key) if key else df.repartition(p)).persist()
    n = out.count()
    return out, n
