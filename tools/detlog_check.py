#!/usr/bin/env python3
"""Cross-engine gate for graft.functions.DetLog: assert the DuckDB SQL twin
produces BIT-IDENTICAL doubles to the driver-side Scala chain for every
reference argument `graft.DetLogDump` emits (the in-JVM Column==Scala half
is DetLogSpec; this is the SQL==Scala half, reproducible on demand instead
of only implicitly through full oracle replays).

Usage: python3 tools/detlog_check.py
(runs `sbt runMain graft.DetLogDump` unless a dump is piped on stdin)
"""
import struct
import subprocess
import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]  # the checkout this script is in


def bits(x):
    return struct.unpack("<q", struct.pack("<d", x))[0]


def main():
    if sys.stdin.isatty():
        out = subprocess.run(
            ["sbt", "-batch", "runMain graft.DetLogDump"],
            capture_output=True, text=True, cwd=ROOT).stdout
    else:
        out = sys.stdin.read()
    # strip sbt's "[info] " prefixes when present
    lines = [l.split("] ", 1)[-1] if l.startswith("[") else l
             for l in out.splitlines()]
    ln_sql = next(l[len("LN_SQL "):] for l in lines if l.startswith("LN_SQL "))
    l2_sql = next(l[len("LOG2_SQL "):] for l in lines if l.startswith("LOG2_SQL "))
    refs = [l.split()[1:] for l in lines if l.startswith("REF ")]
    if not refs:
        sys.exit("FATAL: no REF lines (DetLogDump failed?)")
    con = duckdb.connect()
    con.execute("CREATE TABLE ks(k BIGINT)")
    con.executemany("INSERT INTO ks VALUES (?)", [(int(r[0]),) for r in refs])
    got = con.execute(
        f"SELECT k, {ln_sql} AS ln, {l2_sql} AS l2 FROM ks ORDER BY k").fetchall()
    bad = 0
    for (k, ln, l2), (ks, lnb, l2b) in zip(got, refs):
        assert k == int(ks)
        if bits(ln) != int(lnb) or bits(l2) != int(l2b):
            bad += 1
            print(f"MISMATCH k={k}: duckdb ln bits {bits(ln)} vs jvm {lnb}, "
                  f"log2 {bits(l2)} vs {l2b}")
    print(f"{'ALL-EXACT' if bad == 0 else 'FAIL'}: {len(got) - bad}/{len(got)} "
          f"bit-identical across DuckDB and the JVM chain")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
