"""DuckDB oracle compare for the library operations of a traced run.

The harness writes each checked operation's answer as parquet under
`answers/<name>/` and records the registry's oracle SQL for it. This runs
the SQL in DuckDB over the same fixture tables and compares the two the way
`scripts/oracle_check.py` does: columns sorted by name, rows sorted by every
column, then a per-row value hash, type-sensitive.

Run only by `run.py`, after the JVM exits, on a traced `cdr_stream_stateful`
run.
"""
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return pd.util.hash_pandas_object(df, index=False).values.tolist()


def summary(df):
    """What the compare looks at: column names, row count, row hashes."""
    return {"columns": sorted(df.columns), "rows": len(df), "hashes": canon(df)}


def compare(got, want):
    """'' when two summaries hold the same rows, else why not."""
    if got["columns"] != want["columns"]:
        return f"schema {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} vs {want['rows']}"
    if got["hashes"] != want["hashes"]:
        return "hash mismatch"
    return ""


def oracle_key(sf, sql):
    """The oracle's answer depends only on its SQL and the fixture files."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = os.stat(os.path.join(sf, f"{t}.parquet"))
        h.update(f"{os.path.abspath(sf)}/{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def check(sf, answers, oracle_sql, cache_dir):
    """Verdict per operation name: '' for a match, else the reason. Oracle
    answers are kept in `cache_dir` by `oracle_key`, so DuckDB runs an
    oracle once per checkout, fixture set and SQL text."""
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            cached = os.path.join(cache_dir, oracle_key(sf, sql) + ".json")
            if os.path.exists(cached):
                with open(cached) as f:
                    want = json.load(f)
            else:
                want = summary(con.execute(sql).df())
                with open(cached + ".tmp", "w") as f:
                    json.dump(want, f)
                os.replace(cached + ".tmp", cached)
            got = summary(con.execute(f"SELECT * FROM '{answers}/{name}/*.parquet'").df())
            out[name] = compare(got, want)
        except Exception as ex:  # a failed compare is a failed operation
            out[name] = f"{type(ex).__name__}: {str(ex)[:200]}"
    con.close()
    return out
