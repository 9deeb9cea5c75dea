#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's parquet
dumps against DuckDB executions of oracle_sql.json and compare row sets
(columns sorted by name, rows sorted, values stringified).

Usage: check_oracle.py [out_dir [sf_dir [query ...]]]
With query names, only those queries are checked. Each line carries the
query's DuckDB oracle seconds; the five slowest oracles print at the end."""
import sys, json, glob, os, time
import duckdb
import pandas as pd

out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
only = set(sys.argv[3:])
sys.stdout.reconfigure(line_buffering=True)  # each result shows as it lands

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
unknown = only - set(oracle)
if unknown:
    sys.exit(f"no oracle for: {sorted(unknown)}")
if only:
    oracle = {name: oracle[name] for name in only}

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # DRIVER PARITY: sort RAW cell values first, exactly like the driver's
    # gate — pandas sort_values crashes on ndarray/dict cells (unhashable
    # type), so a list-shaped gated output fails HERE, not at the driver.
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    # stringify for type-insensitive compare, normalize float formatting
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)
    return df.map(cell)

fails = []
duck_s = {}
for name in sorted(oracle):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"{name:22s} MISSING spark output"); fails.append(name); continue
    spark_df = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
    t0 = time.perf_counter()
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"{name:22s} ORACLE SQL ERROR: {e}"); fails.append(name); continue
    finally:
        duck_s[name] = time.perf_counter() - t0
    took = f"[duckdb {duck_s[name]:.2f} s]"
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        print(f"{name:22s} SCHEMA MISMATCH spark={list(a.columns)} duck={list(b.columns)} {took}")
        fails.append(name); continue
    if len(a) != len(b):
        print(f"{name:22s} ROWCOUNT MISMATCH spark={len(a)} duck={len(b)} {took}")
        fails.append(name); continue
    if not a.equals(b):
        diff = (a != b).any(axis=1)
        print(f"{name:22s} VALUE MISMATCH ({diff.sum()} rows) {took}; first:")
        idx = diff[diff].index[:3]
        for i in idx:
            print("   spark:", dict(a.loc[i]))
            print("   duck :", dict(b.loc[i]))
        fails.append(name); continue
    print(f"{name:22s} OK ({len(a)} rows) {took}")

extra = [] if only else [os.path.basename(p) for p in glob.glob(f"{out_dir}/q_*")
                         if os.path.basename(p) not in oracle]
if extra:
    print("rows-only (no oracle):", extra)
print("slowest oracles:", ", ".join(
    f"{n} {t:.2f} s" for n, t in sorted(duck_s.items(), key=lambda kv: -kv[1])[:5]))
print("FAILED:" if fails else "ALL OK", fails if fails else "")
sys.exit(1 if fails else 0)
