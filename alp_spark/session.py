"""SparkSession factory tuned for the link-graph workload.

Single place where scale-relevant knobs live so local tests and a real
1000-executor cluster share the same defaults (overridable per deploy):

- AQE on (runtime join-strategy + skew-join backstop; our explicit hub
  salting in :mod:`alp_spark.plans.skew` remains the primary skew tool).
- Arrow enabled for every pandas-UDF boundary (the reference's
  ``eWiseLambda`` analog must be vectorized — BASELINE input_hint).
- ``shuffle.partitions`` sized to cores locally; on a cluster this should
  be ~2-3x total cores (set via spark-submit conf).
- Python workers import ``alp_spark`` from any working directory: the
  package's root goes on ``PYTHONPATH``, which the JVM and its workers
  inherit when the session starts.
- The generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  holds 4096 classes, not Spark's 100. The 75 driver queries compile
  about 1,200 distinct classes (sf0.001, local[2]), so at 100 LRU
  eviction made every warm call recompile what the last one built: a
  warm sweep of the 75 recompiled 2,281 classes, against 12 here.
  Compiled plans only pay off when their code is reused (Neumann, VLDB
  2011). 4096 is above that working set, and the sweep's JVM metaspace
  read 195 MB against 188 MB at 100 entries. Generated class names leave
  out the whole-stage codegen stage id
  (``spark.sql.codegen.useIdInClassName=false``): AQE numbers stages in
  the order it plans them, which depends on which stages finish first,
  so with the id in the name a warm call under CPU load could still
  recompile a pipeline it had already built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "alp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in map(os.path.realpath, paths):
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # iterative algorithms: keep plans small, avoid broadcast-timeout noise
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
