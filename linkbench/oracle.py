"""Rebuild data/sf0.01/oracle.json: the round-floor queries' DuckDB
``oracle_sql()`` answers on the vendored fixture, normalised with
scripts/check_entry.py's ``norm``.  Run from the repository root:

    python3 linkbench/oracle.py
"""

from __future__ import annotations

import json
import sys

import duckdb

import workloads


def main() -> None:
    sys.path.insert(0, str(workloads.ROOT))
    entry = __import__("__spark_entry__")
    norm = workloads._load("check_entry", workloads.ROOT / "scripts" / "check_entry.py").norm
    con = duckdb.connect()
    workloads._fixture_views(con)
    out = {}
    for q in workloads.RoundFloor.QUERIES:
        res = con.execute(entry.oracle_sql()[q])
        cols, rows = norm(res.fetchall(), [d[0] for d in res.description])
        out[q] = {"columns": cols, "rows": rows}
    workloads.ORACLE.write_text(json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
