"""Round-6 optimization harness — measurement only, NOT the driver bench.

``bench.py`` is frozen for measurement; this file exists so the round-6
optimization work can (a) time individual queries with the same
count-action protocol bench.py uses, (b) isolate computation with the
noop sink (guide §1.4), and (c) dump ``explain("formatted")`` plans into
``plans/r06/`` for the before/after evidence trail.

Usage:
    python bench_extra.py --queries mis,hits5 --repeats 3
    python bench_extra.py --explain-dir plans/r06 --suffix before
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
from bench import HEADLINE  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument(
        "--sink",
        choices=["count", "noop"],
        default="count",
        help="count = the frozen bench.py action; noop = noop-sink "
        "isolation (computes every column, guide §1.4)",
    )
    ap.add_argument(
        "--explain-dir",
        default=None,
        help="when set, write each query's explain('formatted') to "
        "<dir>/<query>_<suffix>.txt (plan evidence for the judge)",
    )
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    sf_dir = args.sf_dir
    spark = get_spark(app_name="alp-spark-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")

    qmap = entrymod.queries()
    names = [q for q in args.queries.split(",") if q in qmap]
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name in names:
            spark.sparkContext.setJobDescription(f"explain: {name}")
            df = qmap[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"# wrote {path}", file=sys.stderr)
        spark.stop()
        return

    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    for name in names:
        runs = []
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        for _ in range(max(args.warmup, 0)):
            df = qmap[name](spark, sf_dir)
            if args.sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
        for rep in range(max(args.repeats, 1)):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.monotonic()
            df = qmap[name](spark, sf_dir)
            if args.sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            runs.append(time.monotonic() - t0)
        avg = sum(runs) / len(runs)
        timings[name] = round(avg, 3)
        mins[name] = round(min(runs), 3)
        print(
            f"# {name}: avg {avg:.3f}s min {mins[name]:.3f} over {len(runs)}",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "metric": "bench_extra",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "queries_min": mins,
                "sink": args.sink,
                "repeats": max(args.repeats, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
