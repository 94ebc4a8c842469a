"""Compute the DuckDB oracle hashes the suite workloads are checked against.

    python3 perfbench/make_oracle.py

Runs each workload query's oracle SQL with DuckDB over the benchmark's own
copy of the input tables and stores row count, columns and the
order-insensitive value hash per scale factor in ``oracle_hashes.json``.
Needs no Spark session; rerun only when a query's oracle SQL or the input
tables change.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import suite  # noqa: E402

DATA = os.path.join(ROOT, "perfbench", "data")


def main() -> int:
    oracle = suite.oracle_tool()
    names = sorted(set(suite.SQL_ANALYTICS) | set(suite.CURATION))
    out = {}
    for sf in sorted(os.listdir(DATA)):
        con = oracle.duck_connection(os.path.join(DATA, sf))
        table = {}
        for name, spec in suite.resolve(names):
            if spec.oracle is None:
                raise SystemExit(f"{name} has no oracle SQL")
            n, cols, digest, _ = oracle.canonicalize(con.sql(spec.oracle).df())
            table[name] = {"rows": n, "columns": cols, "hash": digest}
        out[sf] = table
        print(sf, len(table), "queries")
    with open(suite.ORACLE_FILE, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
