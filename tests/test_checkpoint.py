"""Checkpoint lineage: per-partition rows and files plus superstep metrics
(FIXTURES.md §5 'resume' tier; the kill-and-resume equivalence runs per
operator in tests/test_loop.py)."""

from __future__ import annotations

from alp_spark.algorithms import connected_components
from alp_spark.checkpoint import ParquetCheckpointer

from .fixtures import edges_df, g2_components


def test_lineage_records_partitions_and_metrics(spark, tmp_path):
    n, edges = g2_components()
    E = edges_df(spark, edges)
    ck = ParquetCheckpointer(str(tmp_path), run_id="lineage-test")
    connected_components(spark, E, n, checkpointer=ck, checkpoint_every=1)
    recs = ck.lineage()
    assert len(recs) >= 2
    last = recs[-1]
    assert last["final"] is True
    assert last["metrics"]["converged"] is True
    assert sum(int(v) for v in recs[0]["partition_rows"].values()) == n
    assert all(p["bytes"] > 0 for p in recs[0]["partitions"])

