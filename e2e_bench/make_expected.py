#!/usr/bin/env python3
"""Regenerate expected_counts.json: the row count of every read key of the
benchmark, computed by DuckDB from `SparkEntry.oracleSql(key)` over the
corpus parquet (the pattern of tools/check.py). Run from the checkout root:

    python3 e2e_bench/make_expected.py [--sf DIR]
"""
import argparse
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

from run import DEFAULT_SF

BENCH = Path(__file__).resolve().parent
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=DEFAULT_SF)
    a = ap.parse_args()
    with tempfile.TemporaryDirectory() as d:
        out = Path(d, "oracle_sql.json")
        subprocess.run([sys.executable, str(BENCH / "run.py"), "--mode", "oracles",
                        "--sf", a.sf, "--out", str(out)], check=True)
        oracle = json.loads(out.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{a.sf}/{t}.parquet'")
    counts = {k: con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
              for k, sql in sorted(oracle.items())}
    (BENCH / "expected_counts.json").write_text(json.dumps(counts, indent=1) + "\n")
    print(f"{len(counts)} counts written")


if __name__ == "__main__":
    main()
