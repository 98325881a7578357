#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: load each Verify output
parquet, run the matching oracle SQL in DuckDB over the same testdata
tables, and compare (schema, rowcount, value hash) with columns sorted by
name and rows sorted by all columns. Usage:
  python3 tools/selfcheck.py [sfDir] [outDir]
(run `sbt "runMain graft.Verify <sfDir> <outDir>"` first)

Refactor mode — compare two Verify output dirs instead of the oracle:
  python3 tools/selfcheck.py [sfDir] [outDir] --same-as <otherOutDir>
Every query present in both dirs must have the same columns, column
types and sorted rows, and every oracle_sql.json entry must be
byte-identical; exits non-zero on any difference.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

SAME_AS = None
if "--same-as" in sys.argv:
    i = sys.argv.index("--same-as")
    SAME_AS = sys.argv[i + 1]
    del sys.argv[i:i + 2]
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

oracle = json.load(open(f"{OUT_DIR}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare: floats rounded at query level already
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def first_mismatch(g: pd.DataFrame, w: pd.DataFrame):
    """(column, row, left, right) of the first differing value of two
    canon() frames with equal columns and row counts, else None."""
    for c in g.columns:
        a, b = g[c].astype(str).values, w[c].astype(str).values
        bad = (a != b)
        if bad.any():
            i = bad.argmax()
            return (c, i, a[i], b[i])
    return None

def read_result(out_dir: str, name: str):
    """(canon rows, {column: parquet type}) of one Verify output."""
    rel = f"read_parquet('{out_dir}/{name}/*.parquet')"
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()}
    return canon(con.execute(f"SELECT * FROM {rel}").fetchdf()), types

if SAME_AS:
    other = json.load(open(f"{SAME_AS}/oracle_sql.json"))
    n_same = n_diff = 0
    for name in sorted(set(oracle) | set(other)):
        if oracle.get(name) != other.get(name):
            print(f"DIFF {name}: oracle SQL differs"); n_diff += 1
    dirs = lambda d: {os.path.basename(p) for p in glob.glob(f"{d}/*") if os.path.isdir(p)}
    mine, theirs = dirs(OUT_DIR), dirs(SAME_AS)
    for name in sorted(mine ^ theirs):
        print(f"ONLY-IN-{'OUT' if name in mine else 'OTHER'} {name} (not compared)")
    for name in sorted(mine & theirs):
        try:
            (g, gt), (w, wt) = read_result(OUT_DIR, name), read_result(SAME_AS, name)
        except Exception as e:
            print(f"DIFF {name}: {e}"); n_diff += 1; continue
        if gt != wt:
            print(f"DIFF {name}: schema {gt} vs {wt}"); n_diff += 1; continue
        if len(g) != len(w):
            print(f"DIFF {name}: rows {len(g)} vs {len(w)}"); n_diff += 1; continue
        mism = first_mismatch(g, w)
        if mism:
            c, i, a, b = mism
            print(f"DIFF {name}: col {c} row {i}: {a!r} vs {b!r}"); n_diff += 1
        else:
            print(f"SAME {name} ({len(g)} rows)"); n_same += 1
    print(f"\n{n_same} same, {n_diff} differ ({OUT_DIR} vs {SAME_AS})")
    sys.exit(1 if n_diff else 0)

n_pass = n_fail = 0
for name in sorted(oracle):
    res_dir = f"{OUT_DIR}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); n_fail += 1; continue
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").fetchdf()
        want = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: {e}"); n_fail += 1; continue
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}"); n_fail += 1; continue
    if len(g) != len(w):
        print(f"FAIL {name}: rows {len(g)} vs {len(w)}"); n_fail += 1; continue
    # value compare (string repr, like a hash would see)
    mism = first_mismatch(g, w)
    if mism:
        c, i, a, b = mism
        print(f"FAIL {name}: col {c} row {i}: spark={a!r} oracle={b!r}"); n_fail += 1
    else:
        print(f"PASS {name} ({len(g)} rows)"); n_pass += 1

# queries without oracle (rows-only)
spark_only = [os.path.basename(d) for d in glob.glob(f"{OUT_DIR}/*")
              if os.path.isdir(d) and os.path.basename(d) not in oracle]
for name in sorted(spark_only):
    n = con.execute(f"SELECT count(*) FROM read_parquet('{OUT_DIR}/{name}/*.parquet')").fetchone()[0]
    print(f"ROWS-ONLY {name}: {n} rows {'OK' if n > 0 else 'EMPTY!'}")

print(f"\n{n_pass} pass, {n_fail} fail, {len(spark_only)} rows-only")

# Bench gate: a round must not close with a failing benchcheck (r8
# shipped with etl_pit_lookup 4x over pin because nothing asserted the
# gate before the end-of-round commits). Checked against the freshest
# bench artifact; absent artifacts only warn (correctness runs happen
# on hosts without a bench).
bench = "tools/bench_last.json"
if os.path.exists(bench):
    import subprocess
    rc = subprocess.run([sys.executable, "tools/benchcheck.py", bench],
                        capture_output=True, text=True)
    tail = rc.stdout.strip().splitlines()[-3:]
    print("\nbenchcheck(tools/bench_last.json): " +
          ("OK" if rc.returncode == 0 else "FAILING") + " — " + " | ".join(tail))
    if rc.returncode != 0:
        n_fail += 1
else:
    print("\n(no tools/bench_last.json — benchcheck gate skipped)")

sys.exit(1 if n_fail else 0)
