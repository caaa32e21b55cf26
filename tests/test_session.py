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
