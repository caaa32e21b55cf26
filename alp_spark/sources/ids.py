"""Contiguous vertex-id assignment url → [0, n).

The reference Pregel constructor requires contiguous ids 0..n-1
(interfaces/pregel.hpp:474-477). ``monotonically_increasing_id`` alone
is NOT contiguous, and a global window (row_number over one partition)
would serialise the whole dictionary through one task — wrong at 10^12
rows. The scalable idiom is the distributed sort-rank: range-partition
the urls (partition p holds a contiguous url range, partitions ordered
by pid), sort within partitions, then turn per-partition row numbers
into global ranks by adding cumulative partition counts —
zipWithIndex's two-job shape, but expressed entirely in DataFrame land
so the dictionary never round-trips through RDD or Python-worker
serialisation and the ingest slice stays whole-stage-codegen:

1. ``repartitionByRange(url)``, then ``distinct`` (the range exchange
   already clusters equal urls, so no second shuffle runs), an
   in-partition sort, and ONE projection computing
   ``spark_partition_id()`` and ``monotonically_increasing_id()``
   together, eagerly checkpointed so the stats job and every read of
   the map see one materialised layout;
2. P stats rows (count + min mid per partition) to the driver, cumsum
   in pid order (= url order, because range partitions are ordered);
3. the map is a projection over the checkpoint,
   ``id = mid + delta[pid]`` with ``delta[p] = offset[p] - min_mid[p]``:
   one long literal per range partition, so no table is built or
   joined back. The subtraction turns the partition-local mid sequence
   into the 0-based row number, so no assumption about mid's internal
   bit layout is needed.

The resulting map is the global url-sort rank: deterministic across
runs, partitionings, AND cluster sizes (range boundaries only decide
which executor computes a rank, never the rank itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assign_contiguous_ids(urls: DataFrame, col: str = "url") -> tuple[DataFrame, int]:
    """Distinct values of ``col`` → ``(id_map, n)``: a DataFrame
    (``col``, id) with ids exactly 0..n-1 in ``col``-sorted order (the
    global sort rank), and its row count ``n``.

    ``id_map`` is not persisted: it reads an eager ``localCheckpoint``
    whose blocks the ContextCleaner releases once ``id_map`` is
    unreferenced."""
    indexed = (
        urls.select(col)
        .repartitionByRange(F.col(col))
        .distinct()
        .sortWithinPartitions(col)
        .select(
            col,
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().alias("_mid"),
        )
        # localCheckpoint(eager) rather than persist (ADVICE r4):
        # repartitionByRange boundary sampling and
        # monotonically_increasing_id are nondeterministic under
        # recompute, so a lost-and-rebuilt cached partition could
        # silently disagree with the collected offsets. Checkpointing
        # truncates the lineage — a lost replica is fail-stop (job
        # error), never silently wrong ids.
        .localCheckpoint(eager=True)
    )
    stats = (
        indexed.groupBy("_pid")
        .agg(F.count("*").alias("_cnt"), F.min("_mid").alias("_mn"))
        .collect()
    )
    # empty range partitions have no stats row and no rows to index, so
    # their delta is never read
    delta = [0] * (max((r["_pid"] for r in stats), default=0) + 1)
    n = 0
    for r in sorted(stats, key=lambda r: r["_pid"]):
        delta[r["_pid"]] = n - r["_mn"]
        n += r["_cnt"]
    # the literal array folds to one constant that codegen passes by
    # reference, so a new set of deltas compiles no new class
    deltas = F.array(*(F.lit(d).cast("long") for d in delta))
    id_map = indexed.select(col, (F.col("_mid") + deltas[F.col("_pid")]).alias("id"))
    return id_map, n
