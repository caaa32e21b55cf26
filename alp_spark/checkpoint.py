"""Resumable iteration state: parquet warehouse + lineage sidecars.

North-rule requirement: iteration state (rank vector, frontier mask, label
vector) is checkpointed **per-partition with lineage and superstep
metrics** so any run resumes mid-iteration. The rule: a checkpointer that
already holds a committed snapshot resumes the call it is passed to (the
loop runtime, :mod:`alp_spark.loop`, reads it once, at the start); a new
run starts fresh. To resume run ``run_id``, pass
``ParquetCheckpointer.attach(base, run_id)``.

The checkpointer protocol: ``save(df, superstep, metrics, final)`` commits
a snapshot; ``latest()`` is the newest committed record or ``None``;
``load(spark)`` returns that snapshot as ``(state frame, record)``.

Design: a Parquet warehouse with JSON snapshot sidecars, written by the
loop runtime through ``save``:

    {base}/{run_id}/superstep={k}/part-*.parquet      state rows
    {base}/{run_id}/_lineage/{k}.json                 snapshot metadata

Each lineage record carries the superstep, wall-clock, algorithm metrics
(residual / active count / …), the schema, and per-partition row counts +
file listing — enough to audit exactly which partition produced what and
to resume from the latest complete snapshot (a snapshot is only visible
once its lineage record is written, giving atomic-commit semantics like
an Iceberg snapshot pointer; partial parquet writes without a lineage
record are ignored on resume).

Analog in the reference: ALP has no persistence at all — its only notion
of progress is the superstep round (interfaces/pregel.hpp:316); this
module is what makes the Spark engine's supersteps restartable.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class ParquetCheckpointer:
    """Parquet-warehouse implementation of the checkpoint catalog."""

    def __init__(self, base_dir: str, run_id: str | None = None):
        self.base_dir = base_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.run_dir = os.path.join(base_dir, self.run_id)
        os.makedirs(os.path.join(self.run_dir, "_lineage"), exist_ok=True)

    # -- write path -----------------------------------------------------------

    def save(
        self,
        df: DataFrame,
        superstep: int,
        metrics: dict | None = None,
        final: bool = False,
    ) -> None:
        path = os.path.join(self.run_dir, f"superstep={superstep}")
        df.write.mode("overwrite").parquet(path)
        # per-partition lineage: file listing + row counts per output file,
        # read from the footers just written (no second job over df); a
        # part-NNNNN file holds partition NNNNN's rows
        files = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith("_")
        )
        per_partition = [
            {"file": f, "bytes": os.path.getsize(os.path.join(path, f))} for f in files
        ]
        rows: dict[str, int] = {}
        for f in files:
            pid = str(int(f.split("-")[1]))
            rows[pid] = rows.get(pid, 0) + pq.read_metadata(os.path.join(path, f)).num_rows
        record = {
            "run_id": self.run_id,
            "superstep": superstep,
            "ts": time.time(),
            "final": final,
            "metrics": metrics or {},
            "schema": df.schema.jsonValue(),
            "partitions": per_partition,
            "partition_rows": rows,
            "path": path,
        }
        tmp = os.path.join(self.run_dir, "_lineage", f".{superstep}.json.tmp")
        dst = os.path.join(self.run_dir, "_lineage", f"{superstep}.json")
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, dst)  # atomic snapshot commit

    # -- read / resume path ---------------------------------------------------

    def lineage(self) -> list[dict]:
        out = []
        ldir = os.path.join(self.run_dir, "_lineage")
        for f in sorted(os.listdir(ldir)):
            if f.endswith(".json"):
                with open(os.path.join(ldir, f)) as fh:
                    out.append(json.load(fh))
        return sorted(out, key=lambda r: r["superstep"])

    def latest(self) -> dict | None:
        recs = self.lineage()
        return recs[-1] if recs else None

    def load(self, spark: SparkSession) -> tuple[DataFrame, dict]:
        rec = self.latest()
        if rec is None:
            raise FileNotFoundError(f"no checkpoints under {self.run_dir}")
        return spark.read.parquet(rec["path"]), rec

    @classmethod
    def attach(cls, base_dir: str, run_id: str) -> "ParquetCheckpointer":
        """Re-attach to an existing run: a call passed it resumes."""
        if not os.path.isdir(os.path.join(base_dir, run_id, "_lineage")):
            raise FileNotFoundError(f"run {run_id} has no lineage under {base_dir}")
        return cls(base_dir, run_id)
