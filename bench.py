"""Benchmark harness — the driver's per-round feedback loop.

Runs the headline queries from ``__spark_entry__`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Mirrors the reference benchmark protocol (inner=1 timing of each query,
base/benchmark.hpp:64-71) — one action per query, wall-clock timed.
Extra keys (``edges_per_sec``, ``supersteps_per_hour``) report the
BASELINE.json north metric for the PageRank superstep loop.

Usage: ``python bench.py [--sf-dir DIR] [--queries q1,q2,...]``
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from alp_spark.session import get_spark  # noqa: E402

#: queries timed per round — the flagship PageRank loop plus one
#: representative of each operator family (BLAS-2 degree kernel, Pregel
#: flood, masked SpGEMM, dedup/LSH/ANN/text pipeline ops).
HEADLINE = [
    "pagerank5",
    "pagerank5_csr",
    "out_degree",
    "connected_components",
    "fastsv_cc",
    "triangle_count",
    "hits5",
    "host_pagerank",
    "mis",
    "anf3",
    "random_walks",
    "label_prop1",
    "khop2",
    "exact_dedup",
    "lsh_dup_pairs",
    "ngram_jaccard",
    "simhash",
    "ann_topk",
    "cosine_dup_pairs",
    "token_stats",
    "rep_stats",
    "events_hourly",
    "spy",
    "bpe_tokens",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--repeats",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "10")),
        help="outer repetitions per query (avg/std/min reported — the "
        "reference Benchmarker outer-loop protocol, outer=10 per "
        "base/config.hpp:216-222, base/benchmark.hpp:64-71)",
    )
    ap.add_argument(
        "--warmup",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1")),
        help="untimed runs per query before the timed repeats. The "
        "reference benchmarks inside one long-lived process where "
        "codegen/JIT is already hot; Spark pays whole-stage-codegen "
        "compilation on a query's FIRST run only, which otherwise "
        "lands as a single outlier that dominates the std",
    )
    args = ap.parse_args()

    sf_dir = args.sf_dir
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    try:
        sf = float(sf)
    except ValueError:
        sf = sf_dir

    spark = get_spark(app_name="alp-spark-bench", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    qmap = entrymod.queries()
    names = [q for q in args.queries.split(",") if q in qmap]

    # warm the JVM + parquet footers so the first timed query isn't
    # paying session startup (the reference discards no warmup but its
    # processes are long-lived; one tiny count() is the fair analog).
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # outer-repetition protocol (base/benchmark.hpp:64-71): avg/std over
    # --repeats runs per query so round-over-round regressions are
    # distinguishable from host noise. `queries` carries the avg (the
    # per-round comparable number); std rides in `queries_std`.
    timings: dict[str, float] = {}
    stds: dict[str, float] = {}
    mins: dict[str, float] = {}
    for name in names:
        runs = []
        for _ in range(max(args.warmup, 0)):
            qmap[name](spark, sf_dir).count()
        for rep in range(max(args.repeats, 1)):
            t0 = time.monotonic()
            df = qmap[name](spark, sf_dir)
            n_rows = df.count()
            runs.append(time.monotonic() - t0)
        avg = sum(runs) / len(runs)
        var = sum((t - avg) ** 2 for t in runs) / len(runs)
        timings[name] = round(avg, 3)
        stds[name] = round(var ** 0.5, 3)
        mins[name] = round(min(runs), 3)
        print(
            f"# {name}: avg {avg:.3f}s ± {stds[name]:.3f} min {mins[name]:.3f} "
            f"over {len(runs)} ({n_rows} rows)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)

    # north-star throughput: edges traversed/sec over the PageRank power
    # loop = iters * nnz(E) / wall  (BASELINE.json metric)
    extras: dict[str, float] = {}
    if "pagerank5" in timings and timings["pagerank5"] > 0:
        n_edges = entrymod._edges(spark, sf_dir).count()
        iters = entrymod.PR_ITERS
        wall = timings["pagerank5"]
        extras["pagerank_edges_per_sec"] = round(iters * n_edges / wall, 1)
        extras["pagerank_supersteps_per_hour"] = round(iters / wall * 3600.0, 1)

    print(
        json.dumps(
            {
                "metric": "headline query suite wall-clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_std": stds,
                "queries_min": mins,
                "repeats": max(args.repeats, 1),
                "sf": sf,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
