"""Tests of the benchmark's own parts.  Run from the repository root:

    python3 -m pytest linkbench -q -p no:cacheprovider

``testdata/tiny_eventlog.jsonl`` is a captured Spark 4.1 event log of two
job groups on ``local[2]``, cut down to the events and fields the
parser reads: ``tiny:udf:1`` ran ``mapInPandas`` over 10 rows in 2
partitions; ``tiny:shuffle:1`` ran a ``groupBy().count()`` whose second
job reused the first job's shuffle stage.
"""

from __future__ import annotations

import json
from pathlib import Path

import eventlog
import run

HERE = Path(__file__).resolve().parent
LOG = HERE / "testdata" / "tiny_eventlog.jsonl"


def test_counts_per_job_group():
    groups = eventlog.parse_files([str(LOG)])
    assert set(groups) == {"tiny:udf:1", "tiny:shuffle:1"}
    udf, shuffle = groups["tiny:udf:1"], groups["tiny:shuffle:1"]
    assert (udf["jobs"], udf["stages"], udf["tasks"]) == (1, 1, 2)
    # the skipped (reused) shuffle-map stage is not counted as run
    assert (shuffle["jobs"], shuffle["stages"], shuffle["tasks"]) == (2, 2, 3)
    assert udf["udf_rows"] == 10 and udf["udf_mb_sent"] > 0
    assert shuffle["udf_rows"] == 0 and shuffle["udf_mb_sent"] == 0
    assert shuffle["shuffle_write_mb"] > 0 and shuffle["shuffle_read_mb"] > 0
    assert udf["shuffle_write_mb"] == 0
    assert udf["task_s"] > 0 and udf["failed_tasks"] == 0 == shuffle["failed_tasks"]


def test_failed_task_and_ungrouped_job():
    lines = LOG.read_text().splitlines()
    events = [json.loads(line) for line in lines]
    end = next(e for e in events if e["Event"] == "SparkListenerTaskEnd")
    end["Task End Reason"] = {"Reason": "ExceptionFailure"}
    start = next(e for e in events if e["Event"] == "SparkListenerJobStart")
    start["Properties"] = {}
    groups = eventlog.parse(json.dumps(e) for e in events)
    assert groups[""]["jobs"] == 1 and groups[""]["failed_tasks"] == 1
    assert groups[""]["tasks"] == 2


def test_benchmark_json_declares_every_layer_metric():
    declared = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = run.layer_metric_names()
    assert [m["name"] for m in declared["per_layer"]] == names
    assert all(m["unit"] == run.unit(m["name"]) for m in declared["per_layer"])
    assert [m["name"] for m in declared["end_to_end"]] == ["cpu_s", "setup_s"]
