#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: load Verify's parquet dumps,
run each oracle SQL in DuckDB over the same fixtures, compare like the driver
does — pandas DataFrames, columns sorted by name, rows sorted by all columns,
value-hash compare. This is deliberately TYPE-SENSITIVE (int64 vs float64 vs
object hash differently), because the driver's compare is: a DuckDB HUGEINT
sum vs a Spark BIGINT is a FAIL here even when the values are equal.

usage: oracle_check.py [sfDir] [verifyOut]
"""
import json, sys
import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))


def canon(df):
    """Driver-style canonical form: columns sorted by name, rows sorted by
    every column, then a per-row value hash."""
    df = df[sorted(df.columns)]
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return pd.util.hash_pandas_object(df, index=False).values.tolist()


import os
fails = 0
ran = 0
# Verify dumps the full oracle map even for subset runs. The manifest says
# which queries this dump actually attempted — a query attempted but absent
# from outDir crashed before writing parquet and must FAIL, not be skipped
# as "not in this subset".
manifest_path = f"{OUT}/manifest.json"
expected, crashed = None, set()
if os.path.exists(manifest_path):
    man = json.load(open(manifest_path))
    expected = set(man.get("attempted", []))
    crashed = set(man.get("failed", []))
    for name in sorted(crashed):
        print(f"FAIL {name}: crashed during Verify (see its stderr)")
        fails += 1
skipped = []
manifest_fails = fails
for name, sql in sorted(oracle.items()):
    # a crashed query is already reported as a FAIL above; a stale parquet
    # dir surviving from a previous dump into the same outDir must not get
    # it double-counted (crash FAIL + stale-data compare) — advisor r9
    if name in crashed:
        continue
    if not os.path.isdir(f"{OUT}/{name}"):
        if expected is not None and name in expected and name not in crashed:
            print(f"FAIL {name}: attempted per manifest but no parquet in outDir")
            fails += 1
            manifest_fails += 1
        elif name not in crashed:
            skipped.append(name)
        continue
    ran += 1
    try:
        gdf = con.execute(f"SELECT * FROM '{OUT}/{name}/*.parquet'").df()
        edf = con.execute(sql).df()
        gcols, ecols = sorted(gdf.columns), sorted(edf.columns)
        if gcols != ecols:
            print(f"FAIL {name}: schema {gcols} != {ecols}")
            fails += 1
            continue
        if len(gdf) != len(edf):
            print(f"FAIL {name}: rows {len(gdf)} vs {len(edf)}")
            fails += 1
            continue
        if canon(gdf) != canon(edf):
            # help debugging: show dtype deltas and first value diffs
            dt = [(c, str(gdf[c].dtype), str(edf[c].dtype))
                  for c in gcols if str(gdf[c].dtype) != str(edf[c].dtype)]
            g = gdf[gcols].sort_values(gcols).reset_index(drop=True)
            e = edf[ecols].sort_values(ecols).reset_index(drop=True)
            neq = (g != e) & ~(g.isna() & e.isna())
            bad = neq.any(axis=1)
            print(f"FAIL {name}: hash mismatch; dtype deltas {dt}; "
                  f"{int(bad.sum())} differing rows; first: "
                  f"{g[bad].head(2).to_dict('records')} vs "
                  f"{e[bad].head(2).to_dict('records')}")
            fails += 1
        else:
            print(f"OK   {name}: {len(gdf)} rows")
    except Exception as ex:
        print(f"ERR  {name}: {type(ex).__name__}: {str(ex)[:300]}")
        fails += 1

if skipped:
    print(f"\nskipped (not attempted in this dump): {len(skipped)} queries")
compare_fails = fails - manifest_fails
print(f"\n{ran - compare_fails}/{ran} compared queries match; "
      f"{fails} total failures ({len(skipped)} not in this dump)")
sys.exit(1 if fails else 0)
