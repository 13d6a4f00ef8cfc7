#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate: run graft.Verify via
sbt, then compare each dumped query result against its DuckDB oracle on the
same parquet tables. Not part of the Scala build — dev tooling only.

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [names...]
"""
import json, subprocess, sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).parent))
from check_oracles import canon_type  # driver-strict arrow-type compare

ROOT = Path(__file__).resolve().parents[1]  # the checkout this script is in
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_verify(sfdir, outdir, names=()):
    cmd = ["sbt", "-batch",
           " ".join(["runMain graft.Verify", sfdir, outdir, *names])]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    sys.stdout.write("\n".join(l for l in r.stdout.splitlines()
                               if "error" in l.lower() or "[verify]" in l) + "\n")
    if r.returncode != 0:
        print(r.stdout[-3000:], r.stderr[-2000:])
        sys.exit(1)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    # absolute, since sbt runs Verify from the checkout root, not from here
    outdir = str(Path(args[1] if len(args) > 1 else "/tmp/verify_out").resolve())
    only = set(args[2:])
    if "--skip-verify" not in sys.argv:
        run_verify(sfdir, outdir, sorted(only))

    oracle = json.loads(Path(outdir, "oracle_sql.json").read_text())
    # a typo'd name filter must fail loudly, not silently under-cover while
    # the run still prints "N ok, 0 fail" (ADVICE r9, same class as the
    # check_oracles.py shard filter)
    unknown = only - oracle.keys()
    if unknown:
        sys.exit(f"FATAL: names not in oracle_sql.json: {sorted(unknown)}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

    n_ok = n_bad = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        res_dir = Path(outdir, name)
        if not res_dir.exists():
            print(f"FAIL {name}: no spark result dumped")
            n_bad += 1
            continue
        try:
            st = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'").arrow()
            spark_cols = list(st.column_names)
            spark_rows = [tuple(r.values()) for r in st.to_pylist()]
            ot = con.sql(oracle[name]).arrow()
            o_cols = list(ot.column_names)
            o_rows = [tuple(r.values()) for r in ot.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:300]}")
            n_bad += 1
            continue
        if sorted(spark_cols) != sorted(o_cols):
            print(f"FAIL {name}: cols spark={sorted(spark_cols)} oracle={sorted(o_cols)}")
            n_bad += 1
            continue
        # The driver's hash is TYPE-sensitive (r4: DuckDB HUGEINT vs Spark
        # BIGINT shipped red with identical values) — compare arrow types.
        stypes = {c: canon_type(st.schema.field(i).type)
                  for i, c in enumerate(spark_cols)}
        otypes = {c: canon_type(ot.schema.field(i).type)
                  for i, c in enumerate(o_cols)}
        if stypes != otypes:
            bad = {c: (stypes[c], otypes[c]) for c in stypes
                   if stypes[c] != otypes.get(c)}
            print(f"FAIL {name}: TYPE mismatch {bad}")
            n_bad += 1
            continue
        a, b = canon(spark_rows, spark_cols), canon(o_rows, o_cols)
        if a == b:
            print(f"ok   {name} ({len(a)} rows)")
            n_ok += 1
        else:
            n_bad += 1
            print(f"FAIL {name}: rows spark={len(a)} oracle={len(b)}")
            sa, sb = set(a), set(b)
            for x in list(sa - sb)[:3]:
                print(f"  spark-only: {x[:200]}")
            for x in list(sb - sa)[:3]:
                print(f"  oracle-only: {x[:200]}")
    print(f"== {n_ok} ok, {n_bad} fail")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
