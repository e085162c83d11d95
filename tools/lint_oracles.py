#!/usr/bin/env python3
"""Fast syntax/binding lint for every gate's DuckDB oracle SQL.

Usage: lint_oracles.py <sfDir> <oracle_sql.json>

The oracle map comes from a two-argument Verify run, which writes every
gate's oracle:

    sbt -batch 'runMain graft.Verify <sfDir> <outDir>'
    python3 tools/lint_oracles.py <sfDir> <outDir>/oracle_sql.json

A third Verify argument (a gate-name regex) filters the oracles written as
well as the gates run, so a filtered dump lints only that family.

EXPLAINs every oracle statement against the registered table views —
catching typos, wrong column names, and DuckDB-dialect slips in seconds
instead of discovering them minutes into a full compare cycle. EXPLAIN
binds and plans but does not execute, so this lints cheaply even for
expensive oracles. An empty map is an error, never a silent pass.

Dev tool only (driver-side python); never shipped with the library.
"""
import glob
import json
import os
import sys

import duckdb


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sf_dir, path = sys.argv[1], sys.argv[2]
    oracle = json.load(open(path))
    if not oracle:
        print(f"[FAIL] {path} holds no oracles", file=sys.stderr)
        sys.exit(1)
    con = duckdb.connect()
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.splitext(os.path.basename(f))[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            con.execute("EXPLAIN " + sql)
        except Exception as e:
            bad += 1
            print(f"[FAIL] {name}: {str(e).splitlines()[0][:200]}")
    print(f"== {len(oracle) - bad}/{len(oracle)} oracles bind clean ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
