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
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
