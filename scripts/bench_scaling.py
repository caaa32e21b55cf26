"""Two-cluster-size scaling evidence (BASELINE.json north rule).

No real multi-executor cluster exists in the sandbox, so the N-vs-4N
criterion is evidenced by running the SAME PageRank job on the SAME
input at two parallelism levels (local[1] vs local[4] on a 4-core host)
and reporting throughput at both plus scaling efficiency — see
BASELINE.md "Sandbox scaling protocol".

Meant to be launched via spark-submit --py-files (the north rule's
deployment form), e.g.::

    spark-submit --master local[4] --py-files alp_spark.zip \
        scripts/bench_scaling.py --cores 4 --path csr --iters 5

Prints one JSON line:
  {"cores": 4, "path": "csr", "n": ..., "edges": ..., "iters": ...,
   "superstep_sec": ..., "edges_per_sec": ..., "supersteps_per_hour": ...}

The graph is generated deterministically (seed=42) once and cached as
parquet under --data-dir: a Zipf(1.4) out-degree power-law digraph with
10% of edges aimed at a 64-vertex hub set — the Common-Crawl-style skew
shape the engine must absorb (map-side partial agg + explicit salting).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SEED = 42
DEFAULT_N = 4_000_000
DEFAULT_AVG_DEG = 10


def gen_graph(path: str, n: int, avg_deg: int) -> None:
    """Deterministic skewed digraph → parquet (src:long, dst:long)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    # Zipf out-degrees scaled to hit the average, capped to bound memory
    raw = rng.zipf(1.4, size=n).astype(np.float64)
    deg = np.minimum(raw, 10_000)
    deg = np.maximum((deg * (avg_deg / deg.mean())).astype(np.int64), 0)
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    m = len(src)
    dst = rng.integers(0, n, size=m, dtype=np.int64)
    hub_rows = rng.random(m) < 0.10  # 10% of edges land on 64 hub dsts
    dst[hub_rows] = rng.integers(0, 64, size=int(hub_rows.sum()), dtype=np.int64)
    keep = src != dst
    tbl = pa.table({"src": src[keep], "dst": dst[keep]})
    pq.write_table(tbl, path, row_group_size=4_000_000)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument(
        "--path",
        choices=["csr", "shuffle", "broadcast"],
        default="csr",
    )
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--n", type=int, default=DEFAULT_N)
    ap.add_argument("--avg-deg", type=int, default=DEFAULT_AVG_DEG)
    ap.add_argument("--data-dir", default="benchdata")
    ap.add_argument("--gen-only", action="store_true")
    args = ap.parse_args()

    os.makedirs(args.data_dir, exist_ok=True)
    graph = os.path.join(
        args.data_dir, f"scaling_n{args.n}_d{args.avg_deg}.parquet"
    )
    if not os.path.exists(graph):
        t0 = time.monotonic()
        gen_graph(graph, args.n, args.avg_deg)
        print(f"# generated {graph} in {time.monotonic()-t0:.1f}s", file=sys.stderr)
    if args.gen_only:
        return

    from alp_spark.session import get_spark

    spark = get_spark(
        app_name=f"scaling-{args.path}-{args.cores}",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    edges = spark.read.parquet(graph)
    n, iters = args.n, args.iters

    from alp_spark.algorithms.simple_pagerank import simple_pagerank, simple_pagerank_csr

    # every path times one whole PageRank call (edge build, caching,
    # prelude and the supersteps) and divides it by --iters
    m = edges.count()
    t0 = time.monotonic()
    if args.path == "csr":
        res = simple_pagerank_csr(spark, edges, n, conv=0.0, max_iter=iters)
    else:
        res = simple_pagerank(
            spark, edges, n, conv=0.0, max_iter=iters, strategy=args.path
        )
    wall = time.monotonic() - t0
    assert res.iterations == iters

    per_step = wall / iters
    print(
        json.dumps(
            {
                "cores": args.cores,
                "path": args.path,
                "n": n,
                "edges": int(m),
                "iters": iters,
                "superstep_sec": round(per_step, 3),
                "edges_per_sec": round(m / per_step, 1),
                "supersteps_per_hour": round(3600.0 / per_step, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
