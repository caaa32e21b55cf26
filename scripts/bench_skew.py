"""Skew evidence at bench scale (VERDICT r3 item 5).

Salting has been correctness-gated since round 2 (`out_degree_salted`
hash-matches the unsalted oracle) but never measured where it matters:
the 158.6M-edge Zipf graph whose 64-vertex hub set takes 10% of all
edges by construction (scripts/bench_scaling.py's generator). This
script times one dense-frontier vxm pass (shuffle strategy — the
salting target; broadcast-side plans don't shuffle the hub key at all)
three ways on that graph:

  - unsalted, AQE skew-join ON  (the backstop the engine ships with)
  - unsalted, AQE skew-join OFF (what a straggler-prone plan looks like)
  - salted (plans/skew.py two-level aggregation), AQE ON

Usage::

    spark-submit --master local[8] --py-files alp_spark.zip \
        scripts/bench_skew.py --cores 8 --repeats 3

Prints one JSON line with per-variant avg/min seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_scaling import DEFAULT_N, SEED, gen_graph  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--n", type=int, default=DEFAULT_N)
    ap.add_argument("--avg-deg", type=int, default=40)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--n-salts", type=int, default=16)
    ap.add_argument("--data-dir", default="benchdata")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from alp_spark import algebra as alg
    from alp_spark.containers import ID, SRC, VAL
    from alp_spark.operators.blas2 import vxm
    from alp_spark.plans.skew import hot_keys, salted_vxm
    from alp_spark.session import get_spark

    spark = get_spark(
        master=f"local[{args.cores}]", shuffle_partitions=args.cores * 4
    )
    os.makedirs(args.data_dir, exist_ok=True)
    path = os.path.join(
        args.data_dir, f"zipf_{args.n}_{args.avg_deg}_{SEED}.parquet"
    )
    if not os.path.exists(path):
        gen_graph(path, args.n, args.avg_deg)
    E = spark.read.parquet(path).persist()
    m = E.count()
    v = spark.range(args.n).select(
        F.col("id").alias(ID), F.lit(1.0 / args.n).alias(VAL)
    ).persist()
    v.count()
    hs = hot_keys(E, SRC).persist()
    hd = hot_keys(E, "dst").persist()
    n_hot = hs.count() + hd.count()

    def timed(fn):
        ts = []
        for _ in range(args.repeats):
            t0 = time.time()
            fn().agg(F.sum(VAL)).collect()
            ts.append(time.time() - t0)
        return {"avg": round(sum(ts) / len(ts), 2), "min": round(min(ts), 2)}

    results = {}
    # forward vxm joins on src and aggregates by dst: the 64-hub dst
    # skew hits the AGG, where map-side partial aggregation absorbs it
    # — expect salting to buy nothing here (the honest baseline)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    results["agg_unsalted_aqe_skew_on"] = timed(
        lambda: vxm(v, E, alg.PLUS_TIMES, strategy="shuffle")
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    results["agg_unsalted_aqe_skew_off"] = timed(
        lambda: vxm(v, E, alg.PLUS_TIMES, strategy="shuffle")
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    results["agg_salted"] = timed(
        lambda: salted_vxm(
            v, E, alg.PLUS_TIMES, hot_src=hs, hot_dst=hd,
            n_salts=args.n_salts, hot_nnz=n_hot,
        )
    )
    # transpose vxm joins on dst — the hub keys land on the JOIN, the
    # case salting/AQE-skew-split is designed for: one task would get
    # ~10% of all edges without mitigation
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    results["join_unsalted_aqe_skew_on"] = timed(
        lambda: vxm(v, E, alg.PLUS_TIMES, strategy="shuffle", transpose=True)
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    results["join_unsalted_aqe_skew_off"] = timed(
        lambda: vxm(v, E, alg.PLUS_TIMES, strategy="shuffle", transpose=True)
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    results["join_salted"] = timed(
        lambda: salted_vxm(
            v, E, alg.PLUS_TIMES, hot_src=hs, hot_dst=hd,
            n_salts=args.n_salts, transpose=True, hot_nnz=n_hot,
        )
    )
    print(
        json.dumps(
            {
                "cores": args.cores,
                "n": args.n,
                "edges": m,
                "hot_keys": n_hot,
                "n_salts": args.n_salts,
                "repeats": args.repeats,
                "results": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
