#!/usr/bin/env python3
"""Local correctness loop mimicking the driver's t2 gate:
run graft.Verify at a given SF dir, then each oracle SQL in DuckDB over the
same parquet tables, sort columns by name, and compare values ROW-ORDER-
SENSITIVELY (the driver hashes rows in order; every query must carry a
total ORDER BY).

DECIMAL/float render hazard (root cause of the r1/r2 18-red plateau): the
driver renders one side's decimals through a minimal-digits float lens, so
`Decimal('520.70')` vs `520.7` hash-mismatch even when values are equal.
This gate therefore (a) fails any query whose output column is DECIMAL on
either side, and (b) compares floats by repr — final outputs must be
BIGINT/string/date only.

Usage: python3 tools/selfcheck.py [sfdir] [outdir] [--skip-verify]
                                  [--only=q01_x,q02_y]
"""
import decimal
import json
import math
import os
import subprocess
import sys
from pathlib import Path

import duckdb

pos = [a for a in sys.argv[1:] if not a.startswith("--")]
SF = pos[0] if len(pos) > 0 else "/root/testdata/sf0.01"
OUT = pos[1] if len(pos) > 1 else "/tmp/graft_verify"
ONLY = next((set(a.split("=", 1)[1].split(","))
             for a in sys.argv[1:] if a.startswith("--only=")), None)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_verify():
    flt = f" {','.join(sorted(ONLY))}" if ONLY else ""
    cp = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{flt}'],
        cwd=REPO, capture_output=True, text=True, timeout=1800)
    for line in cp.stdout.splitlines():
        if "[verify]" in line or "error" in line.lower():
            print(line)
    if cp.returncode != 0:
        print(cp.stdout[-3000:]); print(cp.stderr[-2000:])
        sys.exit(1)


def norm(v, risk):
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        # Driver renders one side fixed-scale and the other minimal-digits:
        # any trailing-zero value WILL hash-mismatch there. Record the risk
        # so the query is reported red even if both renderings agree here.
        risk.append(f"DECIMAL output value {v}")
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        risk.append(f"float output value {v!r}")
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_rows(rel, risk):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # NO row sort: the driver hashes in result order, so ORDER BY mismatches
    # must surface here rather than being hidden by a canonical sort.
    rows = [tuple(norm(r[i], risk) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], rows


def main():
    if "--skip-verify" not in sys.argv:
        run_verify()
    oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    n_pass = n_fail = 0
    for name, sql in oracle.items():
        if ONLY is not None and name not in ONLY:
            continue
        spark_dir = Path(OUT) / name
        if not spark_dir.exists():
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        risk = []
        try:
            got_cols, got = table_rows(
                con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'"), risk)
            exp_cols, exp = table_rows(con.sql(sql), risk)
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if got_cols != exp_cols:
            print(f"FAIL {name}: columns {got_cols} != {exp_cols}"); n_fail += 1; continue
        if got == exp and not risk:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        elif got == exp:
            n_fail += 1
            print(f"FAIL {name}: values equal BUT driver-render risk "
                  f"({len(risk)} decimal/float outputs, e.g. {risk[0]})")
        else:
            n_fail += 1
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            sg, se = set(got), set(exp)
            for r in list(sg - se)[:3]:
                print(f"   spark-only: {r}")
            for r in list(se - sg)[:3]:
                print(f"   oracle-only: {r}")
            for i, (a, b) in enumerate(zip(got, exp)):
                if a != b:
                    print(f"   first diff at row {i}:\n    spark : {a}\n    oracle: {b}")
                    break
    # queries without oracle → rows-only note
    extra = [p.name for p in Path(OUT).iterdir()
             if p.is_dir() and p.name not in oracle
             and (ONLY is None or p.name in ONLY)]
    for name in sorted(extra):
        try:
            n = con.sql(f"SELECT count(*) FROM '{OUT}/{name}/*.parquet'").fetchone()[0]
            print(f"INFO {name}: rows-only check, {n} rows")
        except Exception as e:
            print(f"INFO {name}: unreadable ({e})")
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
