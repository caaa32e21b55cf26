"""Contiguous vertex-id assignment url → [0, n).

The reference Pregel constructor requires contiguous ids 0..n-1
(interfaces/pregel.hpp:474-477). ``monotonically_increasing_id`` alone
is NOT contiguous, and a global window (row_number over one partition)
would serialise the whole dictionary through one task — wrong at 10^12
rows. The scalable idiom is the distributed sort-rank: range-partition
the deduped urls (partition p holds a contiguous url range, partitions
ordered by pid), sort within partitions, then turn per-partition row
numbers into global ranks by adding cumulative partition counts —
zipWithIndex's two-job shape, but expressed entirely in DataFrame land
so the dictionary never round-trips through RDD serialisation and the
ingest slice stays whole-stage-codegen end-to-end:

1. dedup + ``repartitionByRange(url)`` + in-partition sort, then ONE
   projection computing ``spark_partition_id()`` and
   ``monotonically_increasing_id()`` together, persisted so the stats
   job and the final join read one materialised layout;
2. P stats rows (count + min mid per partition) to the driver, cumsum
   in pid order (= url order, because range partitions are ordered);
3. broadcast-join the P-row offset table back:
   ``id = offset[pid] + (mid - min_mid[pid])`` — the subtraction turns
   the partition-local mid sequence into the 0-based row number, so no
   assumption about mid's internal bit layout is needed.

The resulting map is the global url-sort rank: deterministic across
runs, partitionings, AND cluster sizes (range boundaries only decide
which executor computes a rank, never the rank itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assign_contiguous_ids(urls: DataFrame, col: str = "url") -> DataFrame:
    """Distinct values of ``col`` → DataFrame (url, id) with ids exactly
    0..n-1 in ``col``-sorted order (the global sort rank).

    The returned map is persisted (callers join against it repeatedly;
    ``unpersist()`` it when done)."""
    distinct = (
        urls.select(col)
        .distinct()
        .repartitionByRange(F.col(col))
        .sortWithinPartitions(col)
        .select(
            col,
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().alias("_mid"),
        )
        # one MATERIALIZED layout shared by the stats job and the final
        # join. localCheckpoint(eager) rather than persist (ADVICE r4):
        # repartitionByRange boundary sampling and
        # monotonically_increasing_id are nondeterministic under
        # recompute, so a lost-and-rebuilt cached partition could
        # silently disagree with the collected offsets. Checkpointing
        # truncates the lineage — a lost replica is fail-stop (job
        # error), never silently wrong ids.
        .localCheckpoint(eager=True)
    )
    stats = (
        distinct.groupBy("_pid")
        .agg(F.count("*").alias("_cnt"), F.min("_mid").alias("_mn"))
        .collect()
    )
    offsets, running = [], 0
    for r in sorted(stats, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], running, r["_mn"]))
        running += r["_cnt"]
    spark = urls.sparkSession
    off = spark.createDataFrame(
        offsets, "_pid int, _off long, _mn long"
    )
    result = (
        distinct.join(F.broadcast(off), on="_pid")  # bound: one row per range partition
        .select(
            col,
            (F.col("_off") + (F.col("_mid") - F.col("_mn"))).alias("id"),
        )
        .persist()
    )
    # result's lineage now starts at the checkpointed layout, so a
    # cache-miss recompute re-reads the SAME materialized rows the
    # offsets were collected from — deterministic by construction. The
    # checkpoint blocks themselves are released by the ContextCleaner
    # once `distinct` goes out of scope.
    result.count()
    return result
