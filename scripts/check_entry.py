"""Driver-simulating correctness check: run every __spark_entry__ query
against its DuckDB oracle at a given sf dir and diff values.

Usage: python scripts/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from alp_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="check-entry")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {exc}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows ({dt:.1f}s, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {exc}")
            continue
        scols, srows = norm(rows, cols)
        dcols, drows = norm(orows, ocols)
        if scols != dcols:
            failures.append(name)
            print(f"FAIL  {name}: schema {scols} vs {dcols}")
        elif len(srows) != len(drows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(drows)}")
            for a in list(set(srows) - set(drows))[:3]:
                print(f"      spark-only: {a}")
            for a in list(set(drows) - set(srows))[:3]:
                print(f"      duck-only:  {a}")
        elif srows != drows:
            failures.append(name)
            bad = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
            print(f"FAIL  {name}: value diff, first: {bad}")
        else:
            print(f"OK    {name}: {len(srows)} rows ({dt:.1f}s)")
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
