"""Graph-suite scale-up evidence (VERDICT r3 item 1).

The graph twin of bench_bigfixture.py: run the full graph query set at
1x / 10x / 100x the driver fixture's vertex count on deterministic
synthetic graphs of FIXED average degree (so edges scale linearly and a
per-query time ratio beyond the output/round-count ratio exposes a
hidden super-linear plan). Algorithms run with the exact driver-query
parameters (__spark_entry__.py), with n parameterised.

Usage::

    spark-submit --master local[32] --py-files alp_spark.zip \
        scripts/bench_graphscale.py --scales 1000 10000 100000

Prints one JSON line:
  {"avg_deg": ..., "scales": {"1000": {"edges": m, "queries": {q: sec}},
   ...}, "ratios": {"10000/1000": {q: r}, ...}}
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

SEED = 77
AVG_DEG = 24


def gen_graph(path: str, n: int, avg_deg: int) -> None:
    """Deterministic Zipf(1.4) power-law digraph with a 64-vertex hub
    set taking 10% of edges (the bench_scaling.py shape) → parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    raw = rng.zipf(1.4, size=n).astype(np.float64)
    deg = np.minimum(raw, 10_000)
    deg = np.maximum((deg * (avg_deg / deg.mean())).astype(np.int64), 0)
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    m = len(src)
    dst = rng.integers(0, n, size=m, dtype=np.int64)
    hub_rows = rng.random(m) < 0.10
    dst[hub_rows] = rng.integers(
        0, min(64, n), size=int(hub_rows.sum()), dtype=np.int64
    )
    keep = src != dst
    tbl = pa.table({"src": src[keep], "dst": dst[keep]})
    pq.write_table(tbl, path, row_group_size=4_000_000)


def _queries():
    """name -> fn(spark, E, Esym, n) mirroring the driver queries'
    parameters; each returns a DataFrame to force with .count()."""
    from pyspark.sql import functions as F

    from alp_spark import algebra as alg
    from alp_spark.algorithms import (
        connected_components,
        kcore_decomposition,
        knn,
        label_propagation,
        simple_pagerank,
        simple_pagerank_csr,
        sssp,
        triangle_count,
    )
    from alp_spark.containers import DST, ID, SRC, VAL

    def q_pagerank5(spark, E, Esym, n):
        return simple_pagerank(
            spark, E, n, alpha=0.85, conv=0.0, max_iter=5
        ).ranks

    def q_pagerank5_csr(spark, E, Esym, n):
        return simple_pagerank_csr(
            spark, E, n, alpha=0.85, conv=0.0, max_iter=5
        ).ranks

    def q_cc(spark, E, Esym, n):
        return connected_components(spark, Esym, n).state

    def q_kcore(spark, E, Esym, n):
        return kcore_decomposition(spark, Esym, n).cores

    def q_triangles(spark, E, Esym, n):
        res = triangle_count(Esym)
        return spark.createDataFrame([(res.total,)], "triangles long")

    def q_khop2(spark, E, Esym, n):
        return knn(spark, E, n, source=0, k=2).reached

    def q_sssp(spark, E, Esym, n):
        w = ((F.col(SRC) * 7 + F.col(DST) * 13) % 10) / 10.0 + 0.1
        return sssp(spark, E.select(SRC, DST, w.alias(VAL)), n, 0).dists

    def q_label_prop1(spark, E, Esym, n):
        seeds = max(2, n // 100)
        sym = Esym.withColumn(VAL, F.lit(1.0))
        y0 = spark.range(n).select(
            F.col("id").alias(ID),
            F.when(F.col("id") < seeds, (F.col("id") % 2).cast("double"))
            .otherwise(F.lit(0.0))
            .alias(VAL),
        )
        return label_propagation(
            spark, sym, y0, n, l=seeds, max_iterations=2
        ).labels

    def q_hits5(spark, E, Esym, n):
        from alp_spark.algorithms.hits import hits

        return hits(spark, E, n, iters=5).auth

    def q_link_predict(spark, E, Esym, n):
        # hub cap 256: wedge work is Sum(deg^2) over centres, and the
        # fixed 64-vertex hub set's degrees grow linearly with scale —
        # uncapped, hubs alone contribute quadratically-growing wedges
        from alp_spark.algorithms.linkpred import link_prediction_scores

        return (
            link_prediction_scores(
                Esym, min_common=2, max_center_degree=256
            )
            .orderBy(F.col("common").desc(), "u", "v")
            .limit(2000)
        )

    def q_mis(spark, E, Esym, n):
        from alp_spark.algorithms.mis import maximal_independent_set

        return maximal_independent_set(spark, Esym, n).members

    def q_scc(spark, E, Esym, n):
        from alp_spark.algorithms.scc import strongly_connected_components

        return strongly_connected_components(spark, E, n).labels

    def q_bowtie(spark, E, Esym, n):
        from alp_spark.algorithms.scc import bowtie_classes

        return bowtie_classes(spark, E, n)

    def q_truss(spark, E, Esym, n):
        from alp_spark.algorithms.truss import k_truss

        return k_truss(spark, Esym, k=5).edges

    def q_ppr_multi(spark, E, Esym, n):
        from alp_spark.algorithms.ppr_multi import ppr_multi

        return ppr_multi(spark, E, n, [7, 42, 123], rounds=3).ranks

    def q_anf3(spark, E, Esym, n):
        from alp_spark.algorithms.anf import anf

        return anf(spark, E, n, rounds=3).sketches

    def q_random_walks(spark, E, Esym, n):
        from alp_spark.pipeline.walks import random_walks

        return random_walks(spark, E.distinct(), n, length=4).walks

    return {
        "pagerank5": q_pagerank5,
        "pagerank5_csr": q_pagerank5_csr,
        "connected_components": q_cc,
        "kcore": q_kcore,
        "triangle_count": q_triangles,
        "khop2": q_khop2,
        "sssp": q_sssp,
        "label_prop1": q_label_prop1,
        "hits5": q_hits5,
        "link_predict": q_link_predict,
        "mis": q_mis,
        "scc": q_scc,
        "bowtie": q_bowtie,
        "truss": q_truss,
        "ppr_multi": q_ppr_multi,
        "anf3": q_anf3,
        "random_walks": q_random_walks,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", type=int, nargs="+",
                    default=[1000, 10_000, 100_000])
    ap.add_argument("--avg-deg", type=int, default=AVG_DEG)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--data-dir", default="benchdata/graphscale")
    ap.add_argument("--skip", nargs="*", default=[])
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from alp_spark.containers import DST, SRC
    from alp_spark.session import get_spark

    spark = get_spark(
        master=f"local[{args.cores}]", shuffle_partitions=args.cores
    )
    os.makedirs(args.data_dir, exist_ok=True)
    out = {"avg_deg": args.avg_deg, "cores": args.cores, "scales": {}}
    qs = _queries()
    for n in sorted(args.scales):
        path = os.path.join(args.data_dir, f"g_{n}_{args.avg_deg}.parquet")
        if not os.path.exists(path):
            gen_graph(path, n, args.avg_deg)
        E = spark.read.parquet(path).persist()
        m = E.count()
        Esym = (
            E.unionByName(
                E.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
            )
            .distinct()
            .persist()
        )
        Esym.count()
        row = {"edges": m, "queries": {}}
        for name, fn in qs.items():
            if name in args.skip:
                continue
            t0 = time.time()
            fn(spark, E, Esym, n).count()
            row["queries"][name] = round(time.time() - t0, 3)
            print(f"# n={n} {name}: {row['queries'][name]}s", file=sys.stderr)
        out["scales"][str(n)] = row
        E.unpersist()
        Esym.unpersist()
    scales = sorted(args.scales)
    out["ratios"] = {}
    for a, b in zip(scales, scales[1:]):
        sa, sb = out["scales"][str(a)], out["scales"][str(b)]
        out["ratios"][f"{b}/{a}"] = {
            q: round(sb["queries"][q] / max(sa["queries"][q], 1e-9), 2)
            for q in sb["queries"]
            if q in sa["queries"]
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
