"""Session defaults: Python workers import ``alp_spark`` whatever the
working directory and without ``PYTHONPATH`` set by the caller."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# the package is on the driver's sys.path only; the mapInPandas function
# imports it on the worker
SCRIPT = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
from alp_spark.session import get_spark

def probe(batches):
    import alp_spark  # noqa: F401
    yield from batches

spark = get_spark(master="local[1]", shuffle_partitions=1)
print(spark.range(3).mapInPandas(probe, "id long").count())
spark.stop()
"""


def test_workers_import_the_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-1] == "3"


# one crawl-to-rank-shaped sequence: Arrow UDF extract, dedup, edge build,
# checkpointed PageRank and CC; run twice in a fresh session
WARM_SCRIPT = f"""
import sys, tempfile
sys.path.insert(0, {str(ROOT)!r})
from pyspark.sql import functions as F
from alp_spark.algorithms import connected_components, simple_pagerank
from alp_spark.checkpoint import ParquetCheckpointer
from alp_spark.pipeline.dedup import exact_dedup
from alp_spark.session import get_spark
from alp_spark.sources.extract import extract_text_udf
from alp_spark.sources.links import build_edge_table
from alp_spark.sources.pages import render_page, url_of

spark = get_spark(master="local[2]", shuffle_partitions=2)
n = 60
pages = spark.createDataFrame(
    [(url_of(i), render_page(i, [(7 * i + 1) % n, (3 * i + 2) % n])[0]) for i in range(n)],
    "url string, html binary",
)
metric = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

def run():
    docs = pages.select(
        F.monotonically_increasing_id().alias("doc_id"), "url",
        extract_text_udf(F.col("html")).alias("text"),
    )
    exact_dedup(docs).collect()
    edges = build_edge_table(pages)[0].localCheckpoint(eager=True)
    with tempfile.TemporaryDirectory() as tmp:
        simple_pagerank(
            spark, edges, n, max_iter=2,
            checkpointer=ParquetCheckpointer(tmp), checkpoint_every=1,
        ).ranks.collect()
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    connected_components(spark, sym, n).state.collect()
    return metric.METRIC_COMPILATION_TIME().getCount()

before = metric.METRIC_COMPILATION_TIME().getCount()
first = run()
second = run()
print(first - before, second - first)
spark.stop()
"""


def test_warm_run_recompiles_no_generated_class(tmp_path):
    # the generated-class cache holds the engine's working set: a repeated
    # sequence that compiles more than Spark's default 100 classes reuses
    # every one of them
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", WARM_SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    first, second = map(int, run.stdout.split()[-2:])
    assert first > 100
    assert second == 0
