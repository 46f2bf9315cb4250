#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [names]

Reads <verifyOutDir>/oracle_sql.json, runs each SQL in DuckDB with views
over <sfDir>/*.parquet, loads the Spark result parquet from
<verifyOutDir>/<name>/, sorts columns by name and rows by all columns,
and compares cell-by-cell (exact; floats compared bit-exactly first,
then with 1e-9 relative tolerance reported separately).

The optional third argument is a comma-separated list of query names,
like graft.Verify's third argument: only those queries are checked, so a
Verify run over a subset compares without FAILs for the queries it
skipped. With no list, every query in oracle_sql.json is checked.
"""
import json, math, sys, glob
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(rows):
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if only is not None:
        oracle = {k: v for k, v in oracle.items() if k in only}
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = sorted(got.columns)
            got_rows = norm(con.sql(
                f"SELECT {', '.join(got_cols)} FROM '{out_dir}/{name}/*.parquet'").fetchall())
            exp = con.sql(oracle[name])
            exp_cols = sorted(exp.columns)
            exp_rows = norm(con.execute(
                f"SELECT {', '.join(exp_cols)} FROM ({oracle[name]})").fetchall())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        if got_cols != exp_cols:
            print(f"FAIL {name}: columns {got_cols} != {exp_cols}"); n_fail += 1; continue
        if len(got_rows) != len(exp_rows):
            print(f"FAIL {name}: {len(got_rows)} rows != {len(exp_rows)}"); n_fail += 1; continue
        bad = approx = 0
        first = None
        for g, e in zip(got_rows, exp_rows):
            for gc, ec in zip(g, e):
                if gc == ec:
                    continue
                if isinstance(gc, float) and isinstance(ec, float) and \
                        math.isclose(gc, ec, rel_tol=1e-9, abs_tol=1e-12):
                    approx += 1
                    if first is None: first = (g, e)
                else:
                    bad += 1
                    if first is None: first = (g, e)
        if bad == 0 and approx == 0:
            print(f"PASS {name} ({len(got_rows)} rows)"); n_pass += 1
        elif bad == 0:
            print(f"NEAR {name}: {approx} float cells differ only in low bits, e.g. {first}")
            n_fail += 1
        else:
            print(f"FAIL {name}: {bad} cells differ, e.g. got={first[0]} exp={first[1]}")
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2],
                  set(sys.argv[3].split(",")) if len(sys.argv) == 4 else None))
