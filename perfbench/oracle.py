#!/usr/bin/env python3
"""Confirm the committed goldens with the DuckDB oracle.

  python3 perfbench/run.py goldens        # dumps outputs per variant
  python3 perfbench/oracle.py

For every variant dumped under perfbench/.work/dump/v<n>, runs each
query's oracle SQL (SparkEntry.oracleSql) in DuckDB over that variant's
tables and compares it with the engine's dumped output the way
scripts/oracle_check.py does. A query whose dump matches gets
"oracle": "match" in perfbench/goldens/v<n>.json; a query without
oracle SQL gets "none". Exits non-zero on any mismatch.
"""
import argparse
import glob
import json
import os
import sys

import duckdb
import pandas as pd

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, os.path.join(ROOT, "scripts"))
from oracle_check import TABLES, compare, norm  # noqa: E402

WORK = os.path.join(BENCH, ".work")


def confirm_variant(vdir):
    v = os.path.basename(vdir)
    con = duckdb.connect()
    for t in TABLES:
        files = os.path.join(WORK, "tables", v, f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
    with open(os.path.join(vdir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    golden_path = os.path.join(BENCH, "goldens", f"{v}.json")
    with open(golden_path) as f:
        goldens = json.load(f)
    failures = 0
    for workload, queries in goldens.items():
        for q, entry in queries.items():
            files = sorted(glob.glob(os.path.join(vdir, q, "*.parquet")))
            if not files:
                print(f"[skip] {v} {q}: no dump")
                continue
            spark_df = norm(pd.concat([pd.read_parquet(p) for p in files]))
            if len(spark_df) != entry["rows"]:
                print(f"[FAIL] {v} {q}: dump has {len(spark_df)} rows, golden {entry['rows']}")
                failures += 1
                continue
            if q not in oracles:
                entry["oracle"] = "none"
                print(f"[none] {v} {q}: no oracle SQL")
                continue
            duck_df = norm(con.execute(oracles[q]).fetchdf())
            ok, why = compare(spark_df, duck_df)
            if ok:
                entry["oracle"] = "match"
                print(f"[ok]   {v} {q}: {len(spark_df)} rows")
            else:
                entry.pop("oracle", None)
                failures += 1
                print(f"[FAIL] {v} {q}: {why}")
    with open(golden_path, "w") as f:
        json.dump(goldens, f, indent=2, sort_keys=True)
        f.write("\n")
    return failures


def main():
    argparse.ArgumentParser(description=__doc__.splitlines()[0]).parse_args()
    dumps = sorted(glob.glob(os.path.join(WORK, "dump", "v*")))
    if not dumps:
        sys.exit("no dumps: run `python3 perfbench/run.py goldens` first")
    sys.exit(1 if sum(confirm_variant(d) for d in dumps) else 0)


if __name__ == "__main__":
    main()
