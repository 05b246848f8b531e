#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify via sbt,
then compare each query's parquet against its DuckDB oracle on the same
testdata. Strict: column names, row multisets (sorted), exact values.

Usage: python3 tools/check.py [sfDir] [--skip-verify] [query ...]
"""
import json, math, subprocess, sys, tempfile, os
import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
OUT = os.environ.get("GRAFT_OUT", "/tmp/graft_verify")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

only = [a for a in sys.argv[2:] if not a.startswith("--")]

if "--skip-verify" not in sys.argv:
    r = subprocess.run(["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
                       cwd="/root/repo", capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:]); sys.exit(1)

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
# Verify dumps each SQL under both the bare name and a "<name>.parquet"
# alias (round-1 driver keyed results by output filename); check each once.
oracle = {k: v for k, v in oracle.items() if not k.endswith(".parquet")}
missing = [n for n in only if n not in oracle]
if missing:
    print(f"no oracle for: {missing}"); sys.exit(1)
compared = {k: v for k, v in oracle.items() if not only or k in only}

def canon(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return repr(v)
    return str(v)

fails = []
for name, sql in sorted(compared.items()):
    try:
        got_rel = con.sql(f"SELECT * FROM '{OUT}/{name}.parquet/*.parquet'")
        # The driver's compare reads the oracle through pandas (DECIMAL ->
        # float64) but our parquet through pyarrow (DECIMAL -> Decimal
        # objects), so any decimal-typed output column hash-mismatches even
        # when values are equal. Verify.canon casts decimals to double; treat
        # a decimal column here as a hard failure so it can't regress.
        dec_cols = [c for c, t in zip(got_rel.columns, got_rel.types) if "DECIMAL" in str(t)]
        if dec_cols:
            fails.append(name); print(f"FAIL {name}: decimal output cols {dec_cols} (driver canon mismatch)")
            continue
        got_cols = sorted(got_rel.columns)
        got = sorted(tuple(canon(v) for v in row) for row in
                     con.sql(f"SELECT {','.join(got_cols)} FROM got_rel").fetchall())
        exp_rel = con.sql(sql)
        # Mirror guard on the oracle side: the driver reads oracle results
        # through pandas, where HUGEINT/UHUGEINT/DECIMAL become float64 and
        # hash as "0.0" against Spark's "0" (the exact ta7/pipe1/pipe2
        # round-5/6 failure). Fail such oracles here so they can't regress —
        # the fix is a CAST(... AS BIGINT/DOUBLE) in the oracle SQL.
        lossy = [c for c, t in zip(exp_rel.columns, exp_rel.types)
                 if any(k in str(t) for k in ("HUGEINT", "UHUGEINT", "DECIMAL"))]
        if lossy:
            fails.append(name); print(f"FAIL {name}: pandas-lossy oracle cols {lossy} (CAST them in the oracle SQL)")
            continue
        exp_cols = sorted(exp_rel.columns)
        exp = sorted(tuple(canon(v) for v in row) for row in
                     con.sql(f"SELECT {','.join(exp_cols)} FROM exp_rel").fetchall())
        if got_cols != exp_cols:
            fails.append(name); print(f"FAIL {name}: cols {got_cols} != {exp_cols}")
        elif got != exp:
            fails.append(name)
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            gs, es = set(got), set(exp)
            for r in list(gs - es)[:3]: print(f"  got-only: {r}")
            for r in list(es - gs)[:3]: print(f"  exp-only: {r}")
        else:
            print(f"PASS {name} ({len(got)} rows)")
    except Exception as e:
        fails.append(name); print(f"ERROR {name}: {e}")

print(f"\n{len(compared) - len(fails)}/{len(compared)} pass" + (f"; FAILING: {fails}" if fails else ""))
sys.exit(1 if fails else 0)
